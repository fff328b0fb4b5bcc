package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.LongType

import graft.functions.{GramSet, MinHashSigDoc, SimHashDoc}
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline over `documents`
  * (north-star extensions, SURVEY §7.6): exact, n-gram Jaccard, MinHash-LSH
  * and SimHash near-dup detection.
  *
  * Scale design: every variant is blocking-based — documents are first
  * mapped to small candidate keys (content hash / prefix bucket / LSH band
  * / SimHash band), pairs are generated ONLY within a bucket via a
  * self-equi-join on the key, never by all-pairs crossJoin. At 100 TB the
  * bucket join shuffles on the band key (uniformly distributed hash →
  * no skew), and per-bucket pair counts stay bounded by design.
  *
  * Note on the self-joins: both join sides derive from the same
  * fingerprint subquery, so a single-query plan computes fingerprints
  * twice (linear, fully codegen'd — visible as two scans in `Explain`).
  * A production pipeline materializes the signature table once (one scan
  * of the corpus, signatures are ~24 bytes/doc) and self-joins that; the
  * in-query shape here keeps each operator self-contained for the
  * differential gate.
  */
object Dedup {

  // ---- exact dedup (hash-groupBy) ----------------------------------------
  // Group by a 128-bit content hash, keep the lowest doc_id. Grouping by
  // md5 instead of the raw text keeps shuffle rows small at scale.
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  // ---- cross-document span dedup (C4-style) ------------------------------
  /** Span width for [[qSpanDedup]] — non-overlapping windows so removal is
    * well-defined (a word belongs to exactly one span). */
  private val SpanSize = 20

  /** C4-style duplicate-SPAN removal across the whole corpus (Raffel et
    * al. 2020 dedup three-sentence spans; the synthetic corpus has no
    * sentence boundaries, so the span unit is a fixed
    * [[SpanSize]]-word window): every occurrence of a span whose
    * normalized content already appeared earlier in the corpus —
    * earlier = lower (doc_id, span_idx) — is dropped, INCLUDING repeats
    * inside one document; the first occurrence stays. Emits the per-doc
    * removal summary plus `kept_hash`, a fingerprint of the surviving
    * spans in order, so the oracle pins the reassembled document, not
    * just counts.
    *
    * Scale shape: the corpus fans out to narrow (doc_id, span_idx,
    * span_hash) rows — span text never crosses an exchange — then ONE
    * shuffle keyed on span_hash ranks occurrences (row_number inside
    * each hash's tiny partition; cardinality ≈ distinct spans, so no
    * global window — PlanSpec asserts the partitioning), and one keyed
    * groupBy reassembles per-doc summaries. Both exchanges are on
    * high-cardinality uniform keys. */
  def spanDedup(docs: DataFrame): DataFrame = {
    val spans = docs
      .select(col("doc_id"), split(TextOps.normText(col("text")), " ").as("words"))
      .withColumn("n", size(col("words")))
      .select(col("doc_id"), col("words"), col("n"),
        explode(expr(s"sequence(1, n, $SpanSize)")).as("start"))
      .select(col("doc_id"),
        expr(s"(start - 1) div $SpanSize").cast(LongType).as("span_idx"),
        size(slice(col("words"), col("start"), lit(SpanSize))).cast(LongType)
          .as("n_span_tokens"),
        md5(concat_ws(" ", slice(col("words"), col("start"), lit(SpanSize)))
          .cast("binary")).as("span_hash"))
    val firstSeen = Window.partitionBy("span_hash").orderBy("doc_id", "span_idx")
    spans
      .withColumn("rn", row_number().over(firstSeen))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum((col("rn") > 1).cast("int")).cast(LongType).as("n_dup_spans"),
        sum(when(col("rn") === 1, col("n_span_tokens")).otherwise(0L))
          .cast(LongType).as("n_kept_tokens"),
        // surviving spans' hashes concatenated in span order (null structs
        // for dropped spans are skipped by collect_list; array_sort orders
        // the struct array by span_idx) — the document fingerprint after
        // removal, identically string_agg(… ORDER BY span_idx) in DuckDB
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN rn = 1 THEN struct(span_idx, span_hash) END)), x -> x.span_hash)"),
          "").cast("binary")).as("kept_hash"))
      .orderBy("doc_id")
  }

  def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    spanDedup(Tables.documents(s, dir))

  // ---- exact duplicated substrings (seed-and-extend) ----------------------

  /** Seed width = the minimum duplicated-substring length reported, in
    * tokens (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", use 50 BPE tokens at web scale; 10 words
    * fits the test corpus' ~54-word documents). */
  private val SubstrSeedK = 10

  /** Boilerplate guard: a seed gram occurring more than this many times
    * corpus-wide is dropped entirely — its pair count would grow n², and
    * a gram shared by thousands of documents is boilerplate (license
    * headers, navigation chrome), not a duplication signal. Never binds
    * at test SF (max observed gram frequency: 3); at 100 TB it is the
    * bound that keeps the self-join linear in corpus size. */
  private val SubstrSeedCap = 64

  /** Maximal duplicated substrings of ≥ [[SubstrSeedK]] tokens across
    * the corpus — the suffix-array dedup of Lee et al. 2022 re-expressed
    * relationally as seed-and-extend, with no suffix array. Output is
    * EXACT over the seeds that survive the boilerplate cap and a LOWER
    * BOUND overall: a duplicated span containing an interior gram more
    * corpus-frequent than `seedCap` loses that seed, so the span is
    * reported fragmented (two shorter runs around the popular phrase) or
    * — if every one of its seeds is capped — suppressed. That is the
    * deliberate price of the n²-per-gram bound; Lee et al. pay the
    * analogous price by dropping their most frequent suffixes. Callers
    * for whom popular-phrase-bearing spans matter raise `seedCap`
    * (pair volume grows as Σ min(freq, cap)² per gram — linear in the
    * cap budget, so the knob is safe to turn deliberately).
    * [[substrRemovalSummary]]'s dup_tokens inherits the same lower-bound
    * reading. The pipeline:
    *
    *  1. every SLIDING [[SubstrSeedK]]-word window (contrast
    *     [[spanDedup]]'s strided windows) becomes a seed row
    *     (doc_id, pos, md5(gram)) — narrow rows, gram text never
    *     shuffles;
    *  2. grams occurring 2..[[SubstrSeedCap]] times survive (one
    *     count-window shuffle on the high-cardinality hash);
    *  3. the seed self-join on the hash yields occurrence pairs; a
    *     duplicated substring of length L contributes its L−K+1
    *     consecutive seeds to the SAME (doc_a, doc_b, diagonal =
    *     pos_b − pos_a) group, so
    *  4. gaps-and-islands inside each diagonal (island = pos_a −
    *     row_number) merges consecutive seeds into maximal runs:
    *     span_tokens = run + K − 1 is EXACTLY the maximal common
    *     substring length at token granularity, with no per-pair text
    *     comparison ever executed.
    *
    * Same-document internal repeats are reported too (doc_a = doc_b,
    * pos_a < pos_b) — self-repetition is a quality signal in its own
    * right (the Gopher repetition rules measure it fuzzily; this is the
    * exact version).
    *
    * Scale: both shuffles key on high-cardinality uniform values (gram
    * hash; (doc_a, doc_b, diagonal)); seed fan-out is one row per token
    * position — linear in corpus tokens, the same cardinality every
    * tokenizing operator here already shuffles; pair volume is bounded
    * by Σ min(freq, cap)² per gram. The window functions partition by
    * those same high-cardinality keys, so no partition ever exceeds
    * cap (frequency window) or document length (island window). */
  def exactSubstrings(docs: DataFrame, seedCap: Int = SubstrSeedCap): DataFrame = {
    require(seedCap >= 2, s"seedCap must allow at least one duplicate pair, got $seedCap")
    val seeds = docs
      .select(col("doc_id"), split(TextOps.normText(col("text")), " ").as("words"))
      .withColumn("n", size(col("words")))
      .filter(col("n") >= SubstrSeedK)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, n - ${SubstrSeedK - 1})")).as("pos"), col("words"))
      // hash in its own projection: a same-select `cast(pos) AS pos`
      // would lateral-alias `pos` inside the slice() to the LONG copy
      // and fail Slice's int-start type check (the q_embed_quant class)
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", expr(s"slice(words, pos, $SubstrSeedK)")).cast("binary")).as("h"))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("h"))
    val dup = seeds
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("cnt") >= 2 && col("cnt") <= seedCap)
      .drop("cnt")
    val a = dup.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("h"))
    val b = dup.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("h"))
    val pairs = a.join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b") ||
        (col("doc_a") === col("doc_b") && col("pos_a") < col("pos_b")))
      .withColumn("d", col("pos_b") - col("pos_a"))
    val byDiag = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    pairs
      .withColumn("island", col("pos_a") - row_number().over(byDiag))
      .groupBy("doc_a", "doc_b", "d", "island")
      .agg(min("pos_a").as("start_a"),
        (count(lit(1)) + lit(SubstrSeedK - 1).cast(LongType)).as("span_tokens"))
      .select(col("doc_a"), col("doc_b"), col("start_a"),
        (col("start_a") + col("d")).as("start_b"), col("span_tokens"))
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
  }

  def qSubstrDedup(s: SparkSession, dir: String): DataFrame =
    exactSubstrings(Tables.documents(s, dir))

  /** The REMOVAL face of [[exactSubstrings]] — Lee et al.'s actual dedup
    * step: for every document, how many tokens sit inside SOME
    * duplicated span whose other occurrence is earlier in the corpus
    * (the later occurrence is the one a dedup pass deletes; "earlier" =
    * the pair orientation exactSubstrings already emits — doc_b is
    * always the later side, and a same-doc internal repeat's second
    * occurrence counts too). Spans of one document arriving from
    * DIFFERENT partners/diagonals overlap freely, so the token count is
    * the measure of their interval UNION, not the sum of their lengths:
    * classic gaps-and-islands — per doc, order spans by start, a new
    * island begins where a span starts past the running max end, and
    * each island contributes (max end − min start). Window partitions on
    * doc_id and each partition holds at most that document's span count
    * — bounded by doc length, never corpus-sized.
    *
    * dup_tokens is a LOWER BOUND under the seed cap — see
    * [[exactSubstrings]]: spans fragmented or suppressed around
    * corpus-frequent grams surrender their capped tokens; `seedCap`
    * raises the bound at a Σ min(freq, cap)² pair-volume price. */
  def substrRemovalSummary(docs: DataFrame, seedCap: Int = SubstrSeedCap): DataFrame = {
    val spans = exactSubstrings(docs, seedCap)
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("span_tokens")).as("e"))
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    // running max end over STRICTLY PRECEDING spans (null for the first)
    val prevMaxE = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = spans
      .withColumn("new_island",
        when(prevMaxE.isNull || col("s") > prevMaxE, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(byDoc))
      .groupBy("doc_id", "island")
      .agg((max(col("e")) - min(col("s"))).as("covered"))
    islands.groupBy("doc_id")
      .agg(sum(col("covered")).as("dup_tokens"), count(lit(1)).as("n_regions"))
      .orderBy("doc_id")
  }

  def qSubstrRemoval(s: SparkSession, dir: String): DataFrame =
    substrRemovalSummary(Tables.documents(s, dir))

  // ---- n-gram Jaccard near-dup -------------------------------------------
  /** Distinct word-3-gram set of the normalized text (requires >= 3
    * words) — the native [[graft.functions.GramSet]] kernel (r22, guide
    * §4): the distinct-3-gram projection is the expensive half of every
    * signature derivation and it fronts the n-gram dedup family plus
    * both capstone pipelines. DedupSpec pins it against the builtin
    * array_distinct(transform(...)) tree: same strings in the same
    * first-occurrence order → identical join keys, buckets and
    * jaccards. */
  private def gramSet: Column = Native.col(GramSet(Native.expr(col("words")), 3))

  /** Candidate blocking key: 40-char prefix of the normalized text. A real
    * pipeline would use MinHash bands (below) — the prefix block keeps this
    * variant fully SQL-expressible for the differential oracle.
    *
    * Skew safety: prefix buckets are NOT uniformly distributed (shared
    * boilerplate headers collapse into one bucket), so each bucket is
    * capped at [[NgramBucketCap]] members — deterministically, lowest
    * doc_ids kept — bounding per-bucket pair counts at cap²/2 no matter
    * how skewed the corpus. The cap never binds at test SF (max bucket ≈
    * dup-cluster size), so the oracle stays exact; at 100 TB it trades
    * bounded recall loss inside mega-buckets for a bounded join.
    */
  private val NgramBucketCap = 256

  /** Capped gram-set/bucket signature frame over any (doc_id, text)
    * frame, shared by the batch and incremental n-gram variants (one
    * definition ↔ one oracle `g` CTE). */
  private def gramBucketsOf(docs: DataFrame): DataFrame = {
    val byBucket = Window.partitionBy("bucket").orderBy("doc_id")
    docs
      .select(col("doc_id"), TextOps.normText(col("text")).as("norm"))
      .withColumn("words", split(col("norm"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), md5(substring(col("norm"), 1, 40).cast("binary")).as("bucket"),
        gramSet.as("grams"))
      .withColumn("rn", row_number().over(byBucket))
      .filter(col("rn") <= NgramBucketCap).drop("rn")
  }

  private def gramBuckets(s: SparkSession, dir: String): DataFrame =
    gramBucketsOf(Tables.documents(s, dir))

  private def jaccardCol: Column = {
    val inter = size(array_intersect(col("grams_a"), col("grams_b")))
    val union = size(col("grams_a")) + size(col("grams_b")) - inter
    round(inter / union.cast("double"), 6)
  }

  /** N-gram near-dup candidate pairs over an arbitrary (doc_id, text)
    * frame — the banded self-join behind [[qDedupNgram]], exposed so
    * compositions (the capstone pipeline) can run it over an already
    * gated corpus instead of re-fingerprinting raw documents the
    * earlier stages dropped (the real pipeline order: cheap gates
    * first, the expensive pass only on survivors). */
  def ngramPairsOf(docs: DataFrame): DataFrame = {
    val base = gramBucketsOf(docs)
    val a = base.select(col("doc_id").as("doc_a"), col("bucket"), col("grams").as("grams_a"))
    val b = base.select(col("doc_id").as("doc_b"), col("bucket"), col("grams").as("grams_b"))
    a.join(b, Seq("bucket")).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", jaccardCol)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    ngramPairsOf(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")

  // ---- incremental dedup (ingest gate) -----------------------------------
  /** The gate aggregation shared by the in-query and stored-table
    * incremental variants: each incoming doc left-joins the corpus
    * signatures on the blocking bucket and reports its best corpus
    * Jaccard + match count (no match → 0). One definition ↔ one oracle,
    * so the two flows can never drift apart. */
  private def gateAgg(incoming: DataFrame, corpus: DataFrame,
      ordered: Boolean = true, prefilter: Option[Column] = None): DataFrame = {
    // With a Bloom prefilter, rows whose bucket PROVABLY isn't stored
    // bypass the join entirely (they can match nothing — the filter has
    // no false negatives) and rejoin as no-match rows; only the maybe
    // rows shuffle (and the novel branch map-side-combines to one row
    // per doc before its exchange). The aggregate below is identical
    // either way, so the gate verdicts cannot change — DedupSpec asserts
    // the equality. The EXPENSIVE part of the incoming side (the gram
    // derivation) materializes ONCE for both branches via a lazy LOCAL
    // CHECKPOINT — not persist(): persist registers the plan in the
    // CacheManager, which pins the batch's blocks until an explicit
    // unpersist nobody here can issue (the result is lazy, so the cache
    // must outlive this function) — a leak per gate call in a
    // long-lived ingest session. Checkpoint blocks instead release with
    // the RDD through the context cleaner once the result frame is
    // garbage; the truncated-lineage trade (executor loss → retry the
    // batch) is the repo's accepted Checkpointer.Local posture. The
    // CHEAP bitset probe stays a live expression evaluated per branch
    // (PlanSpec pins it map-side under the join — inside the checkpoint
    // it would vanish from the auditable plan). A NULL probe (null
    // bucket) conservatively routes to the join branch: the plain path
    // emits a no-match row for it, and dropping it from both branches
    // would lose the verdict.
    val joined = prefilter match {
      case None => incoming.join(corpus, Seq("bucket"), "left")
      case Some(p) =>
        val base = incoming.localCheckpoint(eager = false)
        val may = coalesce(p, lit(true))
        base.filter(may)
          .join(corpus, Seq("bucket"), "left")
          .unionByName(base.filter(!may)
            .withColumn("grams_b", lit(null).cast("array<string>")))
    }
    val agg = joined
      .withColumn("j", when(col("grams_b").isNotNull, jaccardCol))
      .groupBy("doc_id")
      .agg(coalesce(max(when(col("j") >= 0.5, col("j"))), lit(0.0)).as("best_jaccard"),
        count(when(col("j") >= 0.5, lit(1))).as("n_dup_matches"))
      .withColumn("is_duplicate", (col("n_dup_matches") > 0).cast("int"))
    // the sort exists for the differential harness; production sinks
    // (the streaming gate's parquet append) skip the global exchange
    if (ordered) agg.orderBy("doc_id") else agg
  }

  /** The production ingest flow: an INCOMING batch checked against the
    * EXISTING corpus — asymmetric, unlike the batch self-join. Every
    * incoming doc reports whether it duplicates the corpus (best Jaccard
    * + match count; no match → 0). At 100 TB the asymmetry is the point:
    * the corpus side is the materialized signature table (read
    * shard-pruned — see [[qDedupGate]] for that flow made real), so
    * gating a new batch never rescans the corpus text. Here both sides
    * derive from `documents` split by doc_id (every 10th doc plays the
    * incoming batch) to keep the operator differentially testable. */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = gramBuckets(s, dir)
    gateAgg(
      base.filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select(col("doc_id"), col("bucket"), col("grams").as("grams_a")),
      base.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
        .select(col("bucket"), col("grams").as("grams_b")))
  }

  // ---- benchmark decontamination (n-gram overlap gate) -------------------
  /** Shingle width for decontamination: 8 normalized words. Published
    * training-data decontamination uses word n-grams of this order
    * (GPT-3's appendix flags 13-gram collisions; 8 keeps the synthetic
    * corpus' shorter documents in range — the operator is
    * width-parametric either way). */
  private[graft] val DecontamGram = 8

  /** Distinct word-[[DecontamGram]]-gram rows (doc_id, g) of a
    * (doc_id, text) frame — one definition for the training and
    * benchmark sides, mirrored by the `grams` CTE of the oracle. The
    * [[gramSet]] kernel at width [[DecontamGram]]: it builds the
    * identical space-joined string array_join(slice(...)) does (both
    * skip nulls), pinned by DedupSpec. */
  private def decontamGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(TextOps.normText(col("text")), " ").as("w"))
      .filter(size(col("w")) >= DecontamGram)
      .select(col("doc_id"),
        explode(Native.col(GramSet(Native.expr(col("w")), DecontamGram))).as("g"))

  /** Benchmark decontamination (the GPT-3-style eval-overlap gate):
    * report every TRAINING document sharing at least one
    * [[DecontamGram]]-gram with a BENCHMARK document — (doc_id, number
    * of distinct overlapping grams, smallest matching benchmark doc).
    * A training pipeline drops or flags these rows so eval scores are
    * not read off memorized test data.
    *
    * Scale design: the benchmark side is an eval set — thousands of
    * documents, never terabytes — so its gram set BROADCASTS and the
    * 100 TB training corpus is never shuffled: one scan → broadcast-hash
    * join → partial agg (the final groupBy shuffles only the matched
    * docs, a benchmark-sized set). At production width you'd xxhash64
    * each gram to an 8-byte key before broadcasting and re-check the
    * string on match; the test-scale string join keeps the oracle
    * replayable verbatim. DedupSpec pins the gate semantics on planted
    * overlaps; PlanSpec asserts the broadcast and the pruned scan. */
  def decontaminate(training: DataFrame, benchmark: DataFrame): DataFrame =
    decontamGrams(training)
      .join(broadcast(decontamGrams(benchmark)
        .select(col("doc_id").as("bench_id"), col("g"))), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_hits"),
        min(col("bench_id")).as("first_bench_id"))
      .orderBy("doc_id")

  /** The registered face of [[decontaminate]]: the held-out benchmark is
    * the doc_id % 10 == 0 slice of `documents` — a stand-in for a real
    * eval table (the general entry point takes any benchmark frame). */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    decontaminate(
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10L)) === 0))
  }

  // ---- materialized signature store (the 100 TB deployment shape) --------
  /** Directory-partition shards for the signature store. The blocking
    * bucket itself (an md5 string) is far too fine to be a directory key,
    * so the store partitions on `shard = hash(bucket) mod SigShards`:
    * coarse enough for a sane directory count, and any bucket-equi-join
    * against the store can prune to the shards its probe buckets hash to.
    * 16 suits the test corpus; a 100 TB store would use O(1000). */
  private[graft] val SigShards = 16

  /** The signature frame the store persists — one row per capped-bucket
    * member: (doc_id, bucket, grams, shard). Computing signatures is the
    * expensive scan over the corpus text; persisting them is what lets
    * every later dedup pass (batch self-join or ingest gate) run off
    * ~24-byte rows without touching the text again. */
  def signatures(s: SparkSession, dir: String): DataFrame =
    gramBuckets(s, dir).withColumn("shard",
      pmod(xxhash64(col("bucket")), lit(SigShards.toLong)).cast("int"))

  /** [[signatures]] over an arbitrary (doc_id, text) frame — what an
    * ingest pipeline computes for each incoming batch before gating it
    * (the per-batch bucket cap applies within the batch alone; the
    * stored corpus carries its own cap from its own write). */
  def signaturesOf(docs: DataFrame): DataFrame =
    gramBucketsOf(docs).withColumn("shard",
      pmod(xxhash64(col("bucket")), lit(SigShards.toLong)).cast("int"))

  /** The store's second partition level: which admitted batch a signature
    * row arrived in (-1 = the bootstrap corpus write). Batch-scoped
    * partitions are what make the streaming gate's replays idempotent —
    * see [[graft.streaming.EventStreams.gateDocStream]]. */
  private def withBatchId(sig: DataFrame): DataFrame =
    if (sig.columns.contains("batch_id")) sig
    else sig.withColumn("batch_id", lit(-1L))

  /** Persist a signature frame as the on-disk store, partitioned by
    * (shard, batch_id) so gate-side reads prune on shard (PlanSpec
    * asserts the pruning filters reach the scan) and batch-scoped
    * rewrites stay surgical. Runs under the store's writer claim via
    * the [[graft.sources.Stores.overwriteAside]] swap (the
    * `writeSearchIndexFrom` shape): a bootstrap racing a compaction's
    * directory renames refuses loudly instead of interleaving, and the
    * whole-dir swap retires EVERY prior sidecar (`_idbloom.bin`,
    * `_tombstones`) with the corpus it described — a dynamic-mode
    * partition overwrite would leave them stale at the store root,
    * and a stale id-bloom can MISS the new corpus's ids, silently
    * voiding the ingest guard's no-false-negative invariant. */
  def writeSignatures(sig: DataFrame, path: String): Unit =
    graft.sources.Stores.overwriteAside(sig.sparkSession, path) { tmp =>
      // one task per shard: without the repartition every shuffle partition
      // writes a sliver into every shard dir (shards × partitions small
      // files — the object-store listing killer compaction exists to fix)
      graft.sources.Sinks.overwritePartitioned(
        withBatchId(sig).repartition(col("shard")), tmp, Seq("shard", "batch_id"))
      // the Bloom sidecar rides every bootstrap (one extra bucket-column
      // pass) so the pre-gate never pays a build at probe time
      writeBloomBytes(sig.sparkSession, tmp,
        bloomOfBuckets(sig.select("bucket")))
    }

  /** Union `buckets` into the store's Bloom sidecar — called by every
    * append path BEFORE its data lands, so the sidecar (when present)
    * is always a SUPERSET of the stored buckets: the invariant the
    * pre-gate's no-false-negative soundness rests on. A crash between
    * the union and the append leaves only harmless extra bits (false
    * positives); a replayed batch re-ORs the same bits (idempotent).
    * Absent sidecar → no-op ([[ensureBloomSidecar]] rebuilds from the
    * full store on first probe, which includes whatever was appended).
    *
    * CONCURRENT DISTINCT WRITERS must be serialized by the caller — the
    * read-union-write here is not atomic, so two simultaneous appends
    * would each miss the other's bits. That is the signature store's
    * existing single-writer protocol (the streaming gate is the one
    * writer in the streaming flow; [[compactSignatures]] already
    * requires no active gate stream), restated here because for the
    * sidecar the failure mode is a silent false negative, not a
    * detectable layout conflict. */
  private[graft] def absorbIntoBloom(s: SparkSession, path: String, buckets: DataFrame): Unit =
    bucketBloom.absorb(s, path, buckets)

  /** Grow the store in place: admit a signature frame as admission
    * batch `batchId` so the next batch is gated against everything
    * admitted before it — the write half of the ingest loop (gate →
    * admit → append), shared by [[graft.operators.Pipeline.ingestDocs]],
    * the streaming gate ([[graft.streaming.EventStreams.gateBatch]]) and
    * [[qDedupAsof]]. Under the store's writer claim: recover, absorb the
    * batch into BOTH Bloom sidecars (`_bloom.bin` by bucket, `_idbloom.bin`
    * by doc id) BEFORE its rows land — the superset ordering both
    * pre-filters' no-false-negative soundness rests on — then write the
    * rows as a dynamic overwrite of their (shard, batch_id) partitions.
    * A replay of the same batch id rewrites its own partitions and
    * re-ORs the same bits, so an at-least-once caller converges
    * (the [[graft.operators.Similarity.appendAnnIndexBatch]] contract).
    * Any `batch_id` column on `sig` is replaced by `batchId`. */
  def appendSignaturesBatch(s: SparkSession, sig: DataFrame, path: String,
      batchId: Long): Unit =
      graft.sources.StoreLock.withLock(path, "append") {
    require(batchId >= 0, "scoped batch ids are non-negative (negatives are store-internal)")
    graft.sources.Stores.recover(s, path)
    // persisted for its three consumers (two sidecar absorbs + the
    // partition write): signature derivation is the expensive half
    val scoped = sig.withColumn("batch_id", lit(batchId)).persist()
    try {
      absorbIntoBloom(s, path, scoped.select("bucket"))
      graft.sources.IdBloom.absorb(s, path, scoped.select("doc_id"))
      graft.sources.Sinks.overwritePartitionsDynamic(scoped, path, Seq("shard", "batch_id"))
    } finally scoped.unpersist()
  }

  /** The store's batch partitions, from a directory listing alone (no
    * file footers touched): the distinct `batch_id=B` second-level dir
    * names under `shard=S/`. */
  private def storeBatchDirs(s: SparkSession, path: String): Set[String] =
    graft.sources.Stores.subPartitionDirs(s, path).filter(_.startsWith("batch_id="))

  // ---- retraction (tombstone deletes) -------------------------------------

  private def hasTombstones(s: SparkSession, path: String): Boolean =
    graft.sources.Stores.hasTombstones(s, path)

  private def minusTombstones(s: SparkSession, path: String, df: DataFrame): DataFrame =
    graft.sources.Stores.minusTombstones(s, path, "doc_id", df)

  /** Retract documents from the signature store — the GDPR-class delete
    * a 100 TB dedup corpus needs: appends the doc ids as tombstones
    * under the store's `_tombstones/` sidecar (underscore prefix =
    * invisible to the store's own parquet reads, like `_bloom.bin`).
    * Every gate read anti-joins the tombstones out BEFORE the
    * per-bucket cap, so retraction takes effect immediately AND
    * restores cap capacity; the retracted docs' text was never stored
    * (signatures are hashes + gram sets), so the logical delete is the
    * visible one. Physical purge happens at the first
    * [[compactSignatures]] whose replay watermark covers every scoped
    * batch: the compaction applies the same anti join to the partitions
    * it folds and — once nothing replayable remains — the rewritten
    * store swaps in WITHOUT the sidecar, making row purge and tombstone
    * clear ONE atomic directory swap (crash before: rows + tombstones
    * both present, reads still filtered; crash after: both gone). While
    * replay-protected batches remain, the sidecar rides through each
    * swap so a replayed batch cannot resurrect retracted rows. The
    * delete-then-vacuum shape of the transactional table formats, on
    * the store's own machinery.
    *
    * The Bloom sidecar keeps the retracted buckets' bits until that
    * compaction (a Bloom filter cannot unlearn): still sound — a
    * SUPERSET filter has no false negatives, the pre-gate's invariant —
    * just extra maybe-rows that the exact join then finds matchless.
    * Same single-writer protocol as every other store mutation. */
  def retractSignatures(s: SparkSession, path: String, docIds: Seq[Long]): Unit =
    graft.sources.Stores.retractIds(s, path, "doc_id", docIds)

  // ---- Bloom pre-gate sidecar ---------------------------------------------
  /** Sidecar sizing for the verify SF (128 KiB). A deployment sizes
    * m ≈ 1.44 · n · log2(1/p) bits for its stored-bucket cardinality n
    * and false-positive target p; the sidecar is self-describing
    * ([[graft.functions.GBloom.encode]]), so resizing is a rewrite, not
    * a format change. k = 5 ≈ the optimum for ~7 bits/key. */
  private[graft] val BloomBits = 1 << 20
  private[graft] val BloomHashes = 5

  /** The pre-gate sidecar (`_bloom.bin`) — the shared
    * [[graft.sources.BloomSidecar]] protocol (build / atomic replace /
    * lazy ensure / map-side probe) keyed by the signature BUCKET
    * strings; `_idbloom.bin` ([[graft.sources.IdBloom]]) is the same
    * implementation keyed by doc ids, so the rename-failure discipline
    * is maintained ONCE. */
  private val bucketBloom =
    new graft.sources.BloomSidecar("_bloom.bin", BloomBits, BloomHashes)

  /** Build the Bloom filter of a bucket column: the `graft_bloom`
    * partial aggregate (map tasks carry bit arrays, never the bucket
    * stream). */
  private[graft] def bloomOfBuckets(buckets: DataFrame): Array[Byte] =
    bucketBloom.buildOf(buckets)

  private def writeBloomBytes(s: SparkSession, path: String, bytes: Array[Byte]): Unit =
    bucketBloom.write(s, path, bytes)

  /** The store's Bloom sidecar, built from the stored buckets if absent
    * (one column scan, paid once per store version — the `_docs`
    * backfill pattern). The underscore name keeps it invisible to the
    * corpus parquet read. */
  private[graft] def ensureBloomSidecar(s: SparkSession, path: String): Array[Byte] =
    bucketBloom.ensureFrom(s, path)(s.read.parquet(path).select("bucket"))

  /** The membership probe as a Column — the native expression with the
    * filter riding as a literal (null-safe: gateAgg's coalesce routes
    * null probes to the conservative branch). */
  private[graft] def bloomContainsCol(bucket: Column, bytes: Array[Byte]): Column =
    bucketBloom.mightContain(bucket, bytes)

  /** Gate an incoming signature batch against the STORED corpus: the
    * incoming batch's shard set (≤ [[SigShards]] values — control-plane,
    * not data-plane) becomes a partition filter on the store, so the
    * corpus-side read touches only the directories the batch can match.
    * Join + aggregation semantics are exactly [[qDedupIncremental]]'s.
    *
    * The corpus side is RE-CAPPED per bucket after the pruned read when
    * — and only when — the store has been appended to: appended batches
    * each carry their own within-batch cap, so a skewed bucket could
    * otherwise grow by up to the cap per admitted batch and re-inflate
    * the join fan-out without bound. The re-cap is deterministic (lowest
    * doc_ids survive, matching the write-time cap), and a pristine
    * bootstrap-only store (one `batch_id=-1` partition level, detected
    * from the directory listing alone) skips the window entirely — it
    * was capped at write time, so the extra shuffle would re-derive the
    * store verbatim (PlanSpec asserts the skip and the trigger).
    * `corpusFilter` restricts which store rows participate (the
    * streaming gate passes `batch_id < id` so a replayed batch never
    * gates against its own admissions). */
  def gateAgainstStored(s: SparkSession, path: String, incoming: DataFrame,
      corpusFilter: Column = lit(true), ordered: Boolean = true,
      useBloom: Boolean = false): DataFrame = {
    graft.sources.Stores.recover(s, path)
    // NOT checkpointed before the shard collect, deliberately (r22,
    // measured and rejected): Catalyst already prunes the gram-set
    // expression out of this shard-only job (grams compute ABOVE the cap
    // window, so this job shuffles norm strings, not gram arrays), and a
    // shared lazy checkpoint here — materializing (doc_id, bucket,
    // grams, shard) once for this collect plus the gate join — measured
    // q_dedup_gate 0.65→0.73 s and q_dedup_asof 0.72→1.04 s at sf0.1:
    // storing the ~3× text-sized gram arrays costs more than the plain
    // path's second pruned derivation. The Bloom path keeps its own
    // two-branch checkpoint inside gateAgg, where both consumers
    // genuinely need the gram arrays.
    val shards = incoming.select("shard").distinct().collect().map(_.getInt(0)).toSeq
    // tombstones subtract FIRST — before the cap — so a retracted doc
    // both disappears from verdicts and releases its cap slot
    val pruned = minusTombstones(s, path, s.read.parquet(path)
      .filter(col("shard").isin(shards: _*) && corpusFilter))
    // A pristine bootstrap store (one write, capped, no duplicate rows)
    // skips both maintenance steps; a grown store pays them: drop exact
    // duplicate rows — keyed on the full signature row, so two
    // DISTINCT docs with identical text still count separately, and an
    // edited re-ingest keeps both versions deterministically — then
    // re-cap per bucket. compactSignatures bakes both in, restoring the
    // cheap path.
    val capped =
      if (storeBatchDirs(s, path).subsetOf(Set("batch_id=-1"))) pruned
      else {
        // grams as the cap tiebreak: an edited re-ingest leaves two rows
        // with one doc_id, and a cap that binds at that boundary must
        // pick deterministically
        val byBucket = Window.partitionBy("bucket").orderBy(col("doc_id"), col("grams"))
        pruned.dropDuplicates(Seq("doc_id", "bucket", "grams"))
          .withColumn("rn", row_number().over(byBucket))
          .filter(col("rn") <= NgramBucketCap)
      }
    // The Bloom pre-gate: a map-side membership probe of each incoming
    // row's bucket against the store's `_bloom.bin` sidecar — rows whose
    // bucket the filter rules out (no false negatives, so PROVABLY novel)
    // never reach the join's exchange. Shard pruning bounds the CORPUS
    // read; the Bloom bounds the INCOMING side's shuffle — at 100 TB a
    // mostly-novel batch gates in approximately the filter's
    // false-positive fraction of its former shuffle volume.
    val prefilter =
      if (useBloom) Some(bloomContainsCol(col("bucket"), ensureBloomSidecar(s, path)))
      else None
    gateAgg(incoming.select(col("doc_id"), col("bucket"), col("grams").as("grams_a")),
      capped.select(col("bucket"), col("grams").as("grams_b")), ordered, prefilter)
  }

  /** Compact the signature store: fold the admission batches below
    * the caller's replay watermark `foldBelow` back into one bootstrap
    * layout (batch_id = -1), dropping exact duplicate rows and applying
    * the per-bucket cap PERMANENTLY — what [[gateAgainstStored]]
    * re-derives on every read becomes the stored form, so the store
    * stops accumulating rows a gate can never use. The small-files
    * maintenance op every object-store deployment needs: run it from a
    * maintenance batch while no gate stream is active (collapsing batch
    * partitions would confuse an in-flight stream's `batch_id < id`
    * replay filter).
    *
    * Crash-safe via the state layer's temp-write → backup-move → swap
    * pattern: a crash leaves either the original store or the `.bak`
    * that [[graft.sources.Stores.recover]] restores on the next access. At
    * 100 TB the same shape runs against the object store, or the store
    * sits in a transactional table format and compaction is the
    * format's OPTIMIZE. */
  def compactSignatures(s: SparkSession, path: String, foldBelow: Long = 0L): Unit =
      graft.sources.StoreLock.withLock(path, "compact") {
    graft.sources.Stores.recover(s, path)
    // Pristine fast path: a store whose only batch partition is the
    // bootstrap `-1` (bootstrap write, or the result of a prior
    // compaction that folded everything) was deduped + capped at write
    // time, so the fold below would rewrite it verbatim — detected from
    // the directory listing alone and skipped entirely (DedupSpec proves
    // the no-op literally: file mtimes untouched). recover() runs FIRST:
    // a store whose live dir crashed away would otherwise list as empty
    // and "pristinely" skip its own restoration. Residue from an EARLIER
    // crashed compaction (stale .bak/.compact beside the live dir) is
    // still cleared — skipping the rewrite must not leave a stale .bak
    // that a later live-dir loss would "recover" pre-compaction content
    // from.
    graft.sources.Stores.clearResidue(s, path)
    // pending tombstones force the rewrite even on a pristine layout —
    // this compaction is their physical-purge step (see
    // retractSignatures: the swapped-in store has no _tombstones dir, so
    // purge and tombstone clear are one atomic swap)
    if (storeBatchDirs(s, path).subsetOf(Set("batch_id=-1"))
        && !hasTombstones(s, path)) return
    // Batch-SCOPED partitions at/above `foldBelow` survive this
    // compaction (preserved verbatim below), and the store's replay
    // contract lets a restarted stream re-insert any of them as a pure
    // overwrite — so tombstoned rows are PURGED only from the folded
    // branch, and the sidecar must ride through the swap while any
    // protected partition remains: a purge that also cleared the
    // tombstones would let a replayed batch resurrect retracted rows
    // with nothing left to hide them (the compliance failure, found in
    // review). `foldBelow` is the caller's statement that no replay of
    // batch ids under it can still arrive (compactSearchIndex's
    // watermark contract — without it a store that ever saw a scoped
    // admission could NEVER complete a physical delete); the default 0
    // folds no admitted batch. Once nothing replayable remains
    // the sidecar is omitted and the swap clears it atomically.
    val scopedRemain = graft.sources.Stores.replayProtectedRemain(s, path, foldBelow)
    graft.sources.Stores.compactInPlace(s, path) { df0 =>
      val df = minusTombstones(s, path, df0)
      // batches below the watermark fold into the bootstrap partition
      // with the same dedup key + cap order the gate's grown-store path
      // uses, so compaction bakes in exactly what the gate would
      // re-derive. Replay-protected partitions (ids >= foldBelow) pass
      // through UNTOUCHED — not even capped: they are what keeps a streaming
      // replay a pure overwrite of its own partitions and what the
      // `batch_id < id` replay filter excludes, so folding them would
      // resurrect duplicates and a cross-batch cap here would evaluate
      // WITHOUT the gate's replay-visibility filter — a row from batch 3
      // could be evicted by lower-doc_id rows from batch 7, shrinking
      // what a replayed batch 5 gates against and flipping its verdicts.
      // gateAgainstStored re-derives the cross-batch cap with the
      // correct per-read visibility, so leaving scoped rows uncapped
      // loses nothing.
      val byBucket = Window.partitionBy("bucket").orderBy(col("doc_id"), col("grams"))
      val cols = Seq("doc_id", "bucket", "grams", "shard", "batch_id").map(col)
      val folded = df.filter(col("batch_id") < foldBelow)
        .withColumn("batch_id", lit(-1L))
        .dropDuplicates(Seq("doc_id", "bucket", "grams"))
        .withColumn("rn", row_number().over(byBucket))
        .filter(col("rn") <= NgramBucketCap)
        .select(cols: _*)
      // scoped branch from the UNFILTERED frame: replay-protected
      // partitions keep their rows verbatim (hidden by the retained
      // tombstones, see scopedRemain above), so a replay stays a pure
      // overwrite of identical content
      folded.unionByName(df0.filter(col("batch_id") >= foldBelow)
        .withColumn("batch_id", col("batch_id").cast("long")).select(cols: _*))
    } { (df, tmp) =>
      writeSignatures(df, tmp)
      if (scopedRemain) graft.sources.Stores.carryTombstonesInto(s, path, tmp)
      // folding scoped batches bounds the as-of horizon (the vacuum
      // rule) — recorded atomically with the layout it describes
      graft.sources.Stores.writeHorizonInto(s, path, tmp, foldBelow)
    }
  }

  /** Gate `incoming` against the store AS OF batch `asOf` — the
    * DATA-PLANE time-travel twin of [[graft.state.MwStateStore]]'s
    * as-of reads, nearly free here because the store is already
    * batch-partitioned: the corpus read is the bootstrap plus every
    * scoped batch ≤ `asOf` (a partition filter, pruned before any row
    * is read), so the verdicts are exactly what the gate computed when
    * batch `asOf` was the newest admission. The audit face a deployment
    * needs when a duplicate slipped through: re-run the gate at the
    * admission instant and see what it saw.
    *
    * Two deliberate semantic bounds, both the control-plane precedents:
    *  - RETRACTIONS apply to history too — a GDPR-forgotten doc must
    *    not reappear in an as-of read, so tombstones subtract at every
    *    `asOf` (deleted means deleted from the past; the one divergence
    *    from Delta-style time travel, and the compliant one).
    *  - The HORIZON is bounded by compaction: once a fold has absorbed
    *    scoped batches into the bootstrap their identities are gone,
    *    and a pre-horizon read fails LOUDLY naming the oldest
    *    reconstructable state instead of silently gating against rows
    *    from the future ([[graft.sources.Stores.horizonOf]]).
    *
    * The Bloom pre-gate stays sound for any `asOf`: the sidecar covers
    * the FULL store, a superset of every as-of slice, and a superset
    * filter preserves no-false-negatives (the retraction argument). */
  def gateAgainstStoredAsOf(s: SparkSession, path: String, incoming: DataFrame,
      asOf: Long, ordered: Boolean = true, useBloom: Boolean = false): DataFrame = {
    graft.sources.Stores.requireAsOfReconstructable(s, path, asOf)
    gateAgainstStored(s, path, incoming,
      corpusFilter = col("batch_id") <= asOf, ordered = ordered, useBloom = useBloom)
  }

  /** Deterministic per-(dataset, JVM) store location — see
    * [[graft.sources.TmpStores.scopedPath]] for the scoping scheme. */
  private def sigStorePath(dir: String): String =
    graft.sources.TmpStores.scopedPath("graft-sigstore", dir)

  /** The stored-table ingest gate end-to-end: write the corpus slice of
    * the signature store (one corpus scan, paid at write time), then gate
    * the incoming batch against the STORE — the deployment flow every
    * 100 TB dedup claim rests on. Differentially identical to
    * [[qDedupIncremental]] (same split, same gate), which is exactly the
    * point: materializing the signatures must not change the answer. */
  def qDedupGate(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val path = sigStorePath(dir)
    graft.sources.TmpStores.buildOnce(path)(
      writeSignatures(sig.filter(pmod(col("doc_id"), lit(10L)) =!= 0), path))
    gateAgainstStored(s, path, sig.filter(pmod(col("doc_id"), lit(10L)) === 0))
  }

  /** [[qDedupGate]] behind the Bloom PRE-gate: identical verdicts (the
    * filter has no false negatives, so dropping its rejects cannot lose
    * a match — DedupSpec asserts the row-for-row equality and PlanSpec
    * asserts the probe sits map-side under the join), shared oracle.
    * The scale claim it demonstrates: the incoming side of the gate
    * join shrinks to roughly the stored-bucket hit fraction BEFORE any
    * exchange, which for a mostly-novel batch (the common ingest case)
    * is the difference between shuffling the batch and shuffling almost
    * nothing. */
  def qDedupBloom(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val path = sigStorePath(dir)
    graft.sources.TmpStores.buildOnce(path)(
      writeSignatures(sig.filter(pmod(col("doc_id"), lit(10L)) =!= 0), path))
    gateAgainstStored(s, path, sig.filter(pmod(col("doc_id"), lit(10L)) === 0),
      useBloom = true)
  }

  /** The gate after a RETRACTION (its own store path — q_dedup_gate's
    * shared store must never carry these tombstones): bootstrap the
    * corpus slice, retract every stored doc with doc_id % 7 = 0, and
    * gate the same incoming batch. The oracle replays the gate with the
    * retracted docs simply absent from the corpus — tombstoned and
    * never-stored must be indistinguishable to a reader, which is
    * exactly the retraction contract. Runs through the Bloom pre-gate
    * deliberately: the sidecar still carries the retracted buckets'
    * bits (a filter cannot unlearn), so this query green proves the
    * superset-filter soundness argument, not just the anti join. */
  def qDedupRetract(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val path = graft.sources.TmpStores.scopedPath("graft-sigretract", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeSignatures(sig.filter(pmod(col("doc_id"), lit(10L)) =!= 0), path)
      val retract = sig.filter(
          pmod(col("doc_id"), lit(10L)) =!= 0 && pmod(col("doc_id"), lit(7L)) === 0)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq.sorted
      retractSignatures(s, path, retract)
    }
    gateAgainstStored(s, path, sig.filter(pmod(col("doc_id"), lit(10L)) === 0),
      useBloom = true)
  }

  /** The gate AS OF an earlier admission state (its own store path):
    * bootstrap the corpus slice, admit the %10 = 5 docs as scoped batch
    * 5, then gate the incoming batch AS OF batch 4 — before the
    * admission. The oracle replays the gate against the bootstrap
    * alone, so the query is green only if the partition-filtered as-of
    * read makes batch 5's rows genuinely invisible: the data-plane
    * time-travel contract under the differential gate. */
  def qDedupAsof(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val path = graft.sources.TmpStores.scopedPath("graft-sigasof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeSignatures(sig.filter(
        pmod(col("doc_id"), lit(10L)) =!= 0 && pmod(col("doc_id"), lit(10L)) =!= 5), path)
      appendSignaturesBatch(s, sig.filter(pmod(col("doc_id"), lit(10L)) === 5), path, 5L)
    }
    gateAgainstStoredAsOf(s, path, sig.filter(pmod(col("doc_id"), lit(10L)) === 0),
      asOf = 4L)
  }

  // ---- MinHash + LSH banding (Spark-native; no SQL oracle — verified by
  //      DedupSpec against the exact-Jaccard ground truth) -----------------
  /** Permutation family: h_i(gram) = xxh64(xxh64(gram), seed=i). Seeding a
    * 64-bit hash with the permutation index gives independent min-hashes
    * without the classic a*x+b multiply (which would trip ANSI overflow
    * checking). */
  private[graft] val NumHashes = 16
  private[graft] val Bands = 4 // 16 hashes = 4 bands × 4 rows

  /** Per-document MinHash signature in ONE codegen'd projection
    * (graft.functions.MinHashSigDoc): the signature is computed where the
    * document row lives — no gram explode, no re-group shuffle, no
    * interpreted transform/array_min walk per permutation. */
  private def minhashCol(words: Column): Column =
    Native.col(MinHashSigDoc(Native.expr(words), 3, NumHashes))

  private def simhashCol(words: Column): Column =
    Native.col(SimHashDoc(Native.expr(words)))

  /** Candidate near-dup pairs: docs sharing ≥1 LSH band. `n_bands` is the
    * number of agreeing bands; with 4 bands × 4 rows the collision curve
    * crosses ~50% at Jaccard ≈ (1/4)^(1/4) ≈ 0.71.
    *
    * The explicit `repartition` on the band keys is the "materialize the
    * signature stage once" plan: both self-join sides canonicalize to the
    * SAME exchange, so Catalyst's ReuseExchange computes signatures in
    * ONE corpus scan and the join reads the shuffle twice (PlanSpec
    * asserts the ReusedExchange; without it each side re-derived the
    * whole fingerprint pipeline). The shuffle_hash hint keeps the planner
    * from broadcasting one side at small SF, which would silently discard
    * the reuse — and a shuffled hash join on uniformly-hashed band keys
    * is the right 100 TB plan anyway.
    */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), TextOps.normText(col("text")).as("norm"))
      .withColumn("words", split(col("norm"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), minhashCol(col("words")).as("sig"))
    // Band key = hash of 4 consecutive signature rows; explode to (band, key).
    val banded = base.select(col("doc_id"),
      posexplode(array((0 until Bands).map { b =>
        xxhash64((b * 4 until (b + 1) * 4).map(i => element_at(col("sig"), i + 1)): _*)
      }: _*)).as(Seq("band", "band_key")))
      .repartition(col("band"), col("band_key"))
    val a = banded.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band"), col("band_key"))
    a.join(b.hint("shuffle_hash"), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).cast(LongType).as("n_bands"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- SimHash (Spark-native; verified by DedupSpec) ---------------------
  /** Banded-LSH candidate pairs over ANY (id, 64-bit fingerprint) frame —
    * the one near-dup candidate machinery, parameterized by fingerprint
    * source: q_dedup_simhash feeds it text SimHash, q_image_neardup
    * ([[Multimodal.imageNeardupOf]]) feeds it image dHash. Bands the
    * fingerprint into 4×16-bit keys, joins within band buckets, keeps
    * pairs at Hamming ≤ `maxHamming` — complete for maxHamming ≤ 3 by
    * pigeonhole (3 differing bits cannot dirty all 4 bands).
    *
    * The repartition on the band keys makes both self-join sides
    * canonicalize to ONE exchange (fingerprints computed once —
    * PlanSpec's ReusedExchange assertion); the shuffle_hash hint keeps
    * the small-SF planner from broadcasting a side and silently
    * discarding that reuse. */
  private[operators] def bandedHammingPairs(base: DataFrame, idCol: String,
      fpCol: String, maxHamming: Int, outA: String, outB: String): DataFrame = {
    val banded = base.select(col(idCol), col(fpCol),
      posexplode(array((0 until 4).map(b =>
        shiftright(col(fpCol), b * 16).bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("band", "band_key")))
      .repartition(col("band"), col("band_key"))
    val a = banded.select(col(idCol).as(outA), col(fpCol).as("fp_a"), col("band"), col("band_key"))
    val b = banded.select(col(idCol).as(outB), col(fpCol).as("fp_b"), col("band"), col("band_key"))
    a.join(b.hint("shuffle_hash"), Seq("band", "band_key"))
      .filter(col(outA) < col(outB))
      .select(col(outA), col(outB), bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      // Threshold BEFORE the distinct: hamming is functional on the pair,
      // so filtering first is equivalent and the dedup shuffle carries only
      // surviving pairs instead of every band collision.
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(outA, outB)
  }

  /** 64-bit SimHash over word hashes: bit b of the fingerprint is the sign
    * of sum over tokens of ±1 depending on bit b of xxhash64(token).
    * Near-dups = pairs sharing a 16-bit band whose Hamming distance ≤ 3.
    */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // ZERO aggregation shuffles: the fingerprint is a pure function of the
    // document's token array, computed in one codegen'd projection
    // (graft.functions.SimHashDoc) where the row lives. At 100 TB this
    // removes a token-cardinality (~100× documents) explode + re-group
    // shuffle that the aggregate formulations required; the only remaining
    // shuffle is the banded candidate join.
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), split(TextOps.normText(col("text")), " ").as("words"))
      .select(col("doc_id"), simhashCol(col("words")).as("simhash"))
    bandedHammingPairs(base, "doc_id", "simhash", 3, "doc_a", "doc_b")
  }

  // ---- duplicate-cluster assignment (connected components) ---------------
  /** One large-star step (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — public algorithm): every node links
    * its strictly-larger neighbors to the minimum of its closed
    * neighborhood. Input/output edges are canonical `(hi > lo)` pairs.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(edges.select(col("lo").as("u"), col("hi").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // NO dedup here, deliberately (r22): the `v > u` filter keeps exactly
    // one orientation per input edge, so this output is one row per input
    // row — bounded, never amplified — and its only consumer is the
    // [[smallStar]] half of a contraction round, whose own final distinct
    // dedups the round anyway (min-aggregates and equi-joins are
    // multiplicity-insensitive set-wise). The dedup exchange that used to
    // sit here was one full shuffle of the round's edges per round — and
    // under AQE one extra materialized stage/job per round — for nothing
    // the round's result could observe.
    sym.join(m, Seq("u")).filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))
  }

  /** One small-star step: every node links its smaller neighbors — and
    * itself — to the minimum of that set. On canonical edges the smaller
    * neighbors of `hi` are exactly its `lo` values, so each input row
    * rewrites to one output row: the `lo == min` row becomes `(hi, min)`,
    * every other row becomes `(lo, min)`.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy("hi").agg(min("lo").as("m"))
    edges.join(m, Seq("hi"))
      .select(when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
        col("m").as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
  }

  /** Connected components over an undirected pair graph by alternating
    * large-star/small-star until the edge set is a fixed point — at which
    * point every component is a star rooted at its minimum node, and the
    * root IS the cluster label. Replaces plain min-label propagation: that
    * converges in O(diameter) rounds (a 1,000-link chain of near-dups
    * costs ~1,000 shuffles), star contraction in O(log n) (DedupSpec
    * proves the 1,000-node path in ≤ 12 rounds).
    *
    * Each round materializes through the pluggable [[Checkpointer]] —
    * `Local` for dev loops, `Reliable` on a cluster where executor loss
    * must recover instead of killing the job. Convergence is an exact
    * STRUCTURAL check — the round's output is a star forest, the
    * alternation's only fixed points — one probe job per round, detecting
    * the end one full contraction round earlier than a set compare
    * against the previous round could (see the loop body).
    *
    * Returns `(node, label)` for every node appearing in `pairs`.
    */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): DataFrame =
    clusterPairsWithRounds(pairs, maxIter, ckpt)._1

  /** [[clusterPairs]] plus the number of rounds used (for round-budget
    * assertions in specs and observability in pipelines). */
  def clusterPairsWithRounds(pairs: DataFrame, maxIter: Int = 25,
      ckpt: Checkpointer = Checkpointer.Local): (DataFrame, Int) = {
    val (labels, rounds, _) = clusterPairsRetained(pairs, maxIter, ckpt)
    (labels, rounds)
  }

  /** [[clusterPairsWithRounds]] plus the checkpoint-backed frames the
    * result plan still reads (the canonical edge list and the converged
    * round). A caller that CACHES the labels — the memo below — must hold
    * these so eviction can release their storage; transient callers can
    * ignore them (job end releases Local blocks; Reliable dirs are the
    * deployment's retention decision). */
  private def clusterPairsRetained(pairs: DataFrame, maxIter: Int = 25,
      ckpt: Checkpointer): (DataFrame, Int, Seq[DataFrame]) = {
    // Canonicalize + checkpoint the edge list once: without this, every
    // round would recompute the whole upstream candidate pipeline
    // (measured 4x the candidate-generation cost at sf0.1). Self-pairs
    // stay in the canonical frame — they contribute their node to the
    // output as a singleton cluster — and are dropped only from the
    // iterated edge set. LAZY checkpoints throughout the loop (r22,
    // guide §1.2 "remove unnecessary passes"): every round's frame is
    // probed for convergence immediately after it is built, so the probe
    // materializes the checkpoint in the SAME job — the eager form ran
    // one extra full pass over the round's edges per round (materialize,
    // then re-scan).
    val canon = ckpt.lazily(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .distinct())
    var edges = canon.filter(col("hi") =!= col("lo"))
    var prev: Option[DataFrame] = None
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      val next = ckpt.lazily(smallStar(largeStar(edges)))
      // Convergence = the round's OUTPUT is a star forest (r22): Kiveris
      // et al. prove the alternation's fixed points are exactly the
      // two-level star forests, so testing the output's SHAPE detects
      // convergence one full round earlier than the next == edges set
      // compare, which needed a whole confirming contraction round —
      // 5 edge-scale exchanges plus a checkpoint materialization — just
      // to re-derive the same set (and per-round counts plus a final
      // anti-join to notice it had). A deduped edge set is a star forest
      // iff no hi carries two edges AND no lo ever appears as a hi; both
      // violations union into one probe whose first action also
      // materializes the round's lazy checkpoint (the job the count used
      // to do). Probes cost ~3 node-scale aggregate/semi-join exchanges
      // per round against the saved round's 5 edge-scale ones — the
      // trade wins whenever star depth is small (near-dup graphs: the
      // clusters are clique-ish, 1-3 rounds) and stays bounded by one
      // round's cost each when it isn't.
      val multi = next.groupBy("hi").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("hi").as("v"))
      val cross = next.select(col("lo").as("v"))
        .join(next.select(col("hi").as("v")), Seq("v"), "left_semi")
      converged = multi.unionAll(cross).isEmpty
      // round N materialized and tested — round N-1's storage is dead
      // (never the initial canon frame, which the caller may still hold)
      prev.foreach(ckpt.release)
      prev = Some(next)
      edges = next
      rounds += 1
    }
    require(converged, s"clusterPairs did not converge in $maxIter rounds")
    val starLabels = edges.select(col("hi").as("node"), col("lo").as("label"))
      .unionAll(edges.select(col("lo").as("node"), col("lo").as("label")))
      .groupBy("node").agg(min("label").as("label"))
    // every node appearing in `pairs` gets a label — nodes whose only
    // appearance was a self-pair label themselves (singleton clusters)
    val nodes = canon.select(col("hi").as("node"))
      .unionAll(canon.select(col("lo").as("node"))).distinct()
    val labels = nodes.join(starLabels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    (labels, rounds, Seq(canon, edges))
  }

  /** One memoized cluster stage: the labels frame plus the checkpointed
    * frames backing its plan, retained so [[clearClusters]] can release
    * their storage on eviction. */
  private final case class ClusterStage(
      labels: DataFrame, backing: Seq[DataFrame], ckpt: Checkpointer)

  /** Converged cluster labels over the n-gram near-dup pairs, memoized per
    * (session, sf-dir): q_dedup_clusters and the capstone pipeline both
    * consume this stage, and the iterative contraction is deterministic,
    * so computing it twice in one session (as Bench/Verify do) is pure
    * waste — the memo holds the checkpoint-backed labels frame. The memo
    * is BOUNDED by [[clearClusters]]: a long-lived session that cycles
    * through many corpora evicts finished stages instead of accumulating
    * checkpoint blocks/DFS files for its lifetime. */
  private val clusterMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), ClusterStage]

  /** The checkpoint mode comes from session config (see
    * [[Checkpointer.fromConf]]) so cluster deployments reach Reliable
    * mode through the standard entry points without code changes. */
  def clusteredDocs(s: SparkSession, dir: String): DataFrame =
    clusterMemo.getOrElseUpdate((s, dir), {
      val ckpt = Checkpointer.fromConf(s)
      val (labels, _, backing) =
        clusterPairsRetained(qDedupNgram(s, dir).select("doc_a", "doc_b"), ckpt = ckpt)
      ClusterStage(labels, backing, ckpt)
    }).labels

  /** Evict a session's memoized cluster stages and release the checkpoint
    * storage behind them (Local blocks unpersisted / Reliable DFS dirs
    * deleted, via each stage's own Checkpointer). Call when the session is
    * done with a corpus — a released labels frame must not be re-read;
    * the next [[clusteredDocs]] call simply recomputes and re-memoizes. */
  def clearClusters(s: SparkSession): Unit =
    clusterMemo.keys.toSeq.filter(_._1 eq s).foreach { k =>
      clusterMemo.remove(k).foreach(st => st.backing.foreach(st.ckpt.release))
    }

  /** Cluster ids over the oracle-verified n-gram near-dup pairs, with the
    * survivorship decision (the cluster representative = min doc_id keeps
    * its place in the corpus; the rest are the dedup drop set). Verified
    * against a DuckDB recursive-CTE transitive closure. */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    clusteredDocs(s, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        (col("node") === col("label")).cast("int").as("is_survivor"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact"    -> qDedupExact _,
    "q_span_dedup"     -> qSpanDedup _,
    "q_substr_dedup"   -> qSubstrDedup _,
    "q_substr_removal" -> qSubstrRemoval _,
    "q_dedup_ngram"    -> qDedupNgram _,
    "q_dedup_minhash"  -> qDedupMinhash _,
    "q_dedup_simhash"  -> qDedupSimhash _,
    "q_dedup_clusters" -> qDedupClusters _,
    "q_dedup_incremental" -> qDedupIncremental _,
    "q_dedup_gate" -> qDedupGate _,
    "q_dedup_bloom" -> qDedupBloom _,
    "q_dedup_retract" -> qDedupRetract _,
    "q_dedup_asof" -> qDedupAsof _,
    "q_decontaminate" -> qDecontaminate _,
  )

  /** Shared DuckDB CTE chain: normalized text → capped prefix buckets →
    * n-gram near-dup edges → symmetric closure → reachability (connected
    * components). Used by the clusters oracle here and the pipeline
    * oracle (operators.Pipeline) so the two can never drift apart. */
  /** Symmetric-closure fragment: `sym` + recursive `reach(node, r)` over
    * an arbitrary edge CTE. THE one definition of the transitive-closure
    * oracle semantics — the clusters, text-pipeline, and embedding-
    * pipeline oracles all instantiate it, so a base-case or tie-break
    * change can never leave one of them on old semantics. */
  private[operators] def duckReachCtes(edgeCte: String, aCol: String, bCol: String): String =
    s"""sym AS (SELECT $aCol AS u, $bCol AS v FROM $edgeCte UNION SELECT $bCol, $aCol FROM $edgeCte),
       |reach(node, r) AS (
       |  SELECT u, u FROM sym
       |  UNION
       |  SELECT r0.node, s.v FROM reach r0 JOIN sym s ON r0.r = s.u)""".stripMargin

  /** The normalized-text → capped-bucket gram-set chain (`g` CTE) — one
    * definition shared by the ngram, clusters/pipeline, and incremental
    * oracles, mirroring the single [[gramBucketsOf]] on the Spark side.
    * Parameterized on the corpus source CTE/table, exactly as the Spark
    * side is parameterized on the docs frame — so the pipeline oracle
    * can fingerprint the GATED corpus the way [[ngramPairsOf]] does. */
  private[operators] def duckGramCtesFrom(src: String): String =
    s"""n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM $src),
      |w AS (
      |  SELECT doc_id, norm, string_split(norm, ' ') AS words FROM n
      |  WHERE length(string_split(norm, ' ')) >= 3),
      |g0 AS (
      |  SELECT doc_id, md5(substr(norm, 1, 40)) AS bucket,
      |    list_distinct(list_transform(range(1, length(words) - 1),
      |      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS grams
      |  FROM w),
      |g AS (
      |  SELECT doc_id, bucket, grams FROM (
      |    SELECT g0.*, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM g0) t
      |  WHERE rn <= 256)""".stripMargin

  private[operators] val duckGramCtes: String = duckGramCtesFrom("documents")

  /** DuckDB Jaccard between two grams lists. */
  private def duckJaccard(a: String, b: String): String =
    s"""round(length(list_intersect($a, $b)) /
       |        cast(length($a) + length($b) - length(list_intersect($a, $b)) AS double), 6)""".stripMargin

  /** Gram chain + banded edges + transitive reach over an arbitrary
    * corpus source — [[ngramPairsOf]]+[[clusterPairs]] in SQL. */
  private[operators] def duckClusterCtesFrom(src: String): String =
    s"""${duckGramCtesFrom(src)},
      |edges AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM g a JOIN g b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE ${duckJaccard("a.grams", "b.grams")} >= 0.5),
      |${duckReachCtes("edges", "doc_a", "doc_b")}""".stripMargin

  private[operators] val duckClusterCtes: String = duckClusterCtesFrom("documents")

  /** The gate oracle with a parameterized corpus predicate — one chain
    * for the plain, stored, Bloom and retraction variants, so a gate
    * semantics change can never leave one oracle behind. */
  private def duckGateSqlWith(corpWhere: String): String =
    s"""WITH $duckGramCtes,
       |inc AS (SELECT doc_id, bucket, grams FROM g WHERE doc_id % 10 = 0),
       |corp AS (SELECT bucket, grams AS grams_b FROM g WHERE $corpWhere),
       |m AS (
       |  SELECT i.doc_id,
       |    CASE WHEN c.grams_b IS NOT NULL
       |         THEN ${duckJaccard("i.grams", "c.grams_b")} END AS j
       |  FROM inc i LEFT JOIN corp c ON i.bucket = c.bucket)
       |SELECT doc_id,
       |  coalesce(max(CASE WHEN j >= 0.5 THEN j END), 0.0) AS best_jaccard,
       |  count(CASE WHEN j >= 0.5 THEN 1 END) AS n_dup_matches,
       |  CASE WHEN count(CASE WHEN j >= 0.5 THEN 1 END) > 0 THEN 1 ELSE 0 END AS is_duplicate
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** The incremental-gate oracle, shared verbatim by q_dedup_incremental
    * (in-query corpus), q_dedup_gate (stored signature table) and
    * q_dedup_bloom: those flows are defined to agree, so they share one
    * oracle instance. */
  private val duckGateSql: String = duckGateSqlWith("doc_id % 10 <> 0")

  /** q_dedup_minhash / q_dedup_simhash have no SQL-replay oracle
    * (xxhash64 has no DuckDB equivalent) — their oracle is the
    * differential expected parquet [[graft.verify.Expected]] generates
    * (full rows+schema+hash compare via read_parquet, pinned bit-for-bit
    * against the engine in ExpectedSpec); DedupSpec additionally checks
    * them against exact-Jaccard ground truth.
    */
  /** DuckDB replay of [[exactSubstrings]] (see that scaladoc for the
    * stage-by-stage rationale). A complete SELECT with no trailing ORDER
    * BY so the removal-face oracle can inline it as a CTE. */
  private val duckSubstrSpansSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ') AS words
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, words,
       |    unnest(range(1, length(words) - ${SubstrSeedK - 1} + 1)) AS pos
       |  FROM w WHERE length(words) >= $SubstrSeedK),
       |g AS (
       |  SELECT doc_id, pos,
       |    md5(array_to_string(words[pos : pos + ${SubstrSeedK - 1}], ' ')) AS h
       |  FROM p),
       |c AS (SELECT h FROM g GROUP BY h HAVING count(*) BETWEEN 2 AND $SubstrSeedCap),
       |s AS (SELECT g.doc_id, g.pos, g.h FROM g JOIN c USING (h)),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, a.pos AS pos_a, b.doc_id AS doc_b, b.pos AS pos_b
       |  FROM s a JOIN s b ON a.h = b.h
       |  WHERE a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.pos < b.pos)),
       |i AS (
       |  SELECT doc_a, doc_b, pos_b - pos_a AS d, pos_a,
       |    pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_b - pos_a ORDER BY pos_a) AS island
       |  FROM pr)
       |SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_a) + d AS start_b,
       |  cast(count(*) + ${SubstrSeedK - 1} AS bigint) AS span_tokens
       |FROM i GROUP BY doc_a, doc_b, d, island""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_span_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ') AS words
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, words, length(words) AS n,
         |    unnest(range(1, length(words) + 1, $SpanSize)) AS start
         |  FROM w),
         |sp AS (
         |  SELECT doc_id,
         |    (start - 1) // $SpanSize AS span_idx,
         |    cast(length(words[start : least(start + ${SpanSize - 1}, n)]) AS bigint) AS n_span_tokens,
         |    md5(array_to_string(words[start : least(start + ${SpanSize - 1}, n)], ' ')) AS span_hash
         |  FROM st),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, span_idx) AS rn
         |  FROM sp)
         |SELECT doc_id,
         |  count(*) AS n_spans,
         |  cast(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup_spans,
         |  cast(sum(CASE WHEN rn = 1 THEN n_span_tokens ELSE 0 END) AS bigint) AS n_kept_tokens,
         |  md5(coalesce(string_agg(span_hash, '' ORDER BY span_idx) FILTER (WHERE rn = 1), '')) AS kept_hash
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the seed-and-extend replay: sliding K-gram seeds, 2..cap frequency
    // band, diagonal gaps-and-islands — span_tokens = run + K - 1
    "q_substr_dedup" ->
      (duckSubstrSpansSql + "\nORDER BY doc_a, doc_b, start_a, start_b"),
    // the removal face: interval UNION of each doc_b's spans (second
    // gaps-and-islands, on token ranges) — one shared span definition
    // with q_substr_dedup so the two oracles cannot drift
    "q_substr_removal" ->
      s"""WITH spans AS (${duckSubstrSpansSql}),
         |sp AS (
         |  SELECT doc_b AS doc_id, start_b AS s, start_b + span_tokens AS e
         |  FROM spans),
         |fl AS (
         |  SELECT doc_id, s, e,
         |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |      OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    THEN 1 ELSE 0 END AS new_island
         |  FROM sp),
         |isl AS (
         |  SELECT doc_id, s, e,
         |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM fl),
         |cov AS (
         |  SELECT doc_id, island, max(e) - min(s) AS covered
         |  FROM isl GROUP BY doc_id, island)
         |SELECT doc_id, cast(sum(covered) AS bigint) AS dup_tokens,
         |  count(*) AS n_regions
         |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_ngram" ->
      s"""WITH $duckGramCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ${duckJaccard("a.grams", "b.grams")} AS jaccard
        |FROM g a JOIN g b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |WHERE ${duckJaccard("a.grams", "b.grams")} >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_incremental" -> duckGateSql,
    // the stored-table gate materializes the signatures but must not
    // change the answer — its oracle IS the in-query gate's oracle
    "q_dedup_gate" -> duckGateSql,
    // the Bloom pre-gate must be answer-invisible: same oracle, verbatim
    "q_dedup_bloom" -> duckGateSql,
    // retraction: tombstoned ≡ never stored — the corpus predicate just
    // excludes the retracted ids
    "q_dedup_retract" -> duckGateSqlWith("doc_id % 10 <> 0 AND doc_id % 7 <> 0"),
    // as-of face: the oracle's corpus is the BOOTSTRAP alone — green only
    // if the as-of partition filter hides batch 5's later admissions
    "q_dedup_asof" -> duckGateSqlWith("doc_id % 10 <> 0 AND doc_id % 10 <> 5"),
    "q_decontaminate" ->
      s"""WITH norm AS (
         |  SELECT doc_id,
         |    string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ') AS w
         |  FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${DecontamGram - 1}], ' ') AS g
         |  FROM norm, UNNEST(range(1, len(w) - ${DecontamGram - 2})) AS t(i)
         |  WHERE len(w) >= $DecontamGram)
         |SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_hits, MIN(b.doc_id) AS first_bench_id
         |FROM grams t JOIN grams b ON t.g = b.g
         |WHERE b.doc_id % 10 = 0 AND t.doc_id % 10 <> 0
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
         |$duckClusterCtes
         |SELECT node AS doc_id, min(r) AS cluster_id,
         |  CASE WHEN node = min(r) THEN 1 ELSE 0 END AS is_survivor
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
  )
}
