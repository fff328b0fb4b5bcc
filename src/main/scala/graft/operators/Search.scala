package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables

/** Relevance search over the corpus: BM25 keyword top-k and an
  * edit-distance fuzzy join (north-star extensions, SURVEY §7.6 — the
  * retrieval face of a training-data pipeline: "find the docs about X"
  * and "find the near-miss variants of each doc").
  *
  * Scale shape of both operators is blocking-before-pairing:
  *  - BM25 never materializes a full inverted index per query — the
  *    exploded token stream is FILTERED TO THE QUERY TERMS map-side, so
  *    the only rows that ever reach an exchange are (doc, query-term)
  *    hits; document length arrives precomputed from the same scan.
  *  - the fuzzy join only scores pairs inside an 8-char-prefix block
  *    (with the same deterministic per-block cap as
  *    [[Dedup.qDedupNgram]]'s gram buckets), never all pairs.
  */
object Search {

  // ---- BM25 keyword search ------------------------------------------------

  /** The demo query (corpus vocabulary is synthetic, SURVEY §7.6); a
    * deployment passes its own terms to [[bm25]]. */
  private[graft] val QueryTerms = Seq("spark", "merge", "vector", "stream")
  private val K1 = 1.2
  private val BParam = 0.75
  private val TopK = 20

  /** (doc_id, words, dl) over any (doc_id, text) frame — the shared
    * base of the in-query scorer and the stored index writer (one
    * definition, so the two faces can never disagree on tokenization). */
  private def docWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(TextOps.normText(col("text")), " ").as("words"))
      .withColumn("dl", size(col("words")).cast(LongType))

  /** The BM25 scoring stage shared by [[bm25]] and [[qBm25Probe]]:
    * `tf` = (doc_id, dl, word, tf) restricted to the query terms,
    * `stats` = one (n_docs, avgdl) row. Document frequency derives from
    * `tf` itself (the probed postings of a term are ALL its postings,
    * so the df is exact on both faces). The df and stats frames are
    * dimension-sized and ride broadcasts back onto the hit stream; the
    * final top-k is orderBy+limit — Spark plans TakeOrderedAndProject,
    * a per-partition heap + driver merge, never a global sort.
    *
    * Determinism: each per-term partial score is fixed-pointed to 1e-6
    * BEFORE the per-doc sum (long addition commutes; double addition
    * does not), so partition order can never wiggle the rounded total —
    * the same trick ensures the DuckDB oracle sums identical longs.
    * Expression order mirrors the oracle SQL token-for-token: IEEE ops
    * are correctly rounded, so identical association ⇒ identical bits.
    */
  private[graft] def scoreBm25(tf: DataFrame, stats: DataFrame): DataFrame = {
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(K1) * (lit(1.0 - BParam) + lit(BParam) * col("dl") / col("avgdl"))
    val fp = round(idf * col("tf") * lit(K1 + 1.0) / denom * lit(1e6)).cast(LongType)
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(stats))
      .withColumn("fp", fp)
      .groupBy("doc_id")
      .agg(round(sum("fp") / lit(1e6), 6).as("bm25"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(TopK)
  }

  /** BM25 (Lucene's non-negative IDF variant) top-k over any
    * (doc_id, text) frame, scoring the corpus in-query.
    *
    * Distribution: one scan computes words + document length; the
    * explode is filtered to `terms` BEFORE any exchange, so the shuffled
    * token stream is |terms|-bounded per doc, not |doc|-bounded
    * (PlanSpec asserts the filter sits under the first exchange).
    * avgdl is sum/count (exact integer sum, one correctly-rounded
    * division) — bit-identical to the stored index's additive stats.
    */
  private[graft] def bm25(docs: DataFrame, terms: Seq[String] = QueryTerms): DataFrame = {
    val base = docWords(docs)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum("dl") / count(lit(1))).as("avgdl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("words")).as("word"))
      .filter(col("word").isin(terms: _*)) // map-side: only query-term hits shuffle
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).as("tf"))
    scoreBm25(tf, stats)
  }

  def qBm25(s: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(s, dir))

  // ---- stored inverted index (posting lists) --------------------------------

  /** Term-hash shard count — the index's first partition level. 16
    * keeps the verify-SF store readable at a glance; a 100 TB
    * deployment raises it so one shard's postings fit an executor. */
  private[graft] val PostingShards = 16

  /** The shard of a term, as a Column — probe-side shard derivation
    * reuses THIS expression (via a |terms|-row local frame), so writer
    * and prober can never disagree on the hash. */
  private def termShard(word: Column): Column =
    pmod(xxhash64(word), lit(PostingShards.toLong))

  /** Full posting rows over a corpus: (shard, word, doc_id, dl, tf) —
    * one row per distinct (doc, term). This is the expensive pass a
    * stored index pays ONCE: the full-vocabulary explode + count that
    * the in-query scorer avoids by filtering to its terms first. */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docWords(docs)
      .select(col("doc_id"), col("dl"), explode(col("words")).as("word"))
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("shard", termShard(col("word")))

  /** The doc-membership shard of a doc id — the `_docs` sidecar's
    * partition key. Same modulus as the term shards, but hashed on
    * doc_id: a membership probe prunes to the INCOMING batch's doc
    * shards, independent of which terms the docs contain. */
  private def docShard(docId: Column): Column =
    pmod(xxhash64(docId), lit(PostingShards.toLong))

  /** One membership row per document of a batch: (doc_id, dshard,
    * batch_id). The `_docs` sidecar is what makes [[appendSearchIndexBatch]]'s
    * disjointness guard genuinely probe-sized: membership is |docs| rows
    * (not |postings|), partitioned by doc-hash shard so a guard reads
    * only the incoming docs' shard directories. */
  private def docsRowsOf(docs: DataFrame, batchId: Long): DataFrame =
    docs.select(col("doc_id")).distinct()
      .withColumn("dshard", docShard(col("doc_id")))
      .withColumn("batch_id", lit(batchId))

  /** Backfill the `_docs` sidecar of a store written before the sidecar
    * existed: one full postings scan deriving (doc_id, batch_id)
    * membership, paid once — every append calls this, so the sidecar is
    * complete before any row lands under it and the disjointness guard
    * can always trust it. Crash-safe: built under `_docs.tmp` (also
    * underscore-invisible to the corpus read) and renamed into place;
    * a crashed half-build is cleared and rebuilt on the next call. */
  private def ensureDocsSidecar(s: SparkSession, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val docs = new org.apache.hadoop.fs.Path(path + "/_docs")
    if (!fs.exists(live) || fs.exists(docs)) return
    val tmp = new org.apache.hadoop.fs.Path(path + "/_docs.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    graft.sources.Sinks.overwritePartitioned(
      s.read.parquet(path).select("doc_id", "batch_id").distinct()
        .withColumn("dshard", docShard(col("doc_id")))
        .repartition(col("dshard")),
      tmp.toString, Seq("dshard", "batch_id"))
    // Hadoop FileSystem reports rename failure by RETURNING FALSE
    // (writeBloomBytes' guard, Dedup.scala) — ignoring it would leave no
    // sidecar now, and the NEXT append would then CREATE one holding
    // only its own batch: the disjointness guard would trust a
    // permanently incomplete doc set and silently re-admit old doc_ids
    require(fs.rename(tmp, docs),
      s"could not move $tmp to $docs — aborting rather than risk a " +
        "partial _docs sidecar that would silently break batch disjointness")
  }

  /** One (batch_id, n_docs, sum_dl) stats row for a batch of documents.
    * The sidecar is ADDITIVE on purpose: BM25's global stats (N, avgdl)
    * change with every append, so instead of a single stale row the
    * store keeps one row per batch and the probe sums them — exact
    * integer arithmetic, so stored stats == in-query stats bit-for-bit
    * at any append depth. */
  private def statsRowOf(docs: DataFrame, batchId: Long): DataFrame =
    docWords(docs).agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .withColumn("batch_id", lit(batchId))

  /** Tmpdir store path for a dataset's search index (the
    * [[graft.sources.TmpStores.scopedPath]] scheme). */
  private[graft] def searchIndexPath(dir: String): String =
    graft.sources.TmpStores.scopedPath("graft-searchidx", dir)

  /** Bootstrap the stored inverted index at `path`: postings
    * partitioned by (shard, batch_id) — term-shard FIRST, so probes
    * prune to the query terms' shard directories before any row is
    * read — plus the `_stats` sidecar (underscore prefix: invisible to
    * the corpus read, the IVF `_centroids` convention). Both artifacts
    * are written aside and swapped in by
    * [[graft.sources.Stores.overwriteAside]], so no crash point leaves
    * a sidecar-less live store (SearchSpec drives the stored==in-query
    * equality; the crash protocol itself is proven in SimilaritySpec's
    * overwriteAside battery). */
  def writeSearchIndex(s: SparkSession, dir: String, path: String): Unit =
    writeSearchIndexFrom(s, Tables.documents(s, dir), path)

  /** [[writeSearchIndex]] from an explicit corpus frame — the seam the
    * append/equality specs build half-corpus bootstraps through. */
  def writeSearchIndexFrom(s: SparkSession, docs: DataFrame, path: String): Unit =
    graft.sources.Stores.overwriteAside(s, path) { tmp =>
      // one task per shard (writeSignatures' discipline): without the
      // repartition every shuffle partition emits a sliver file into
      // every shard directory
      graft.sources.Sinks.overwritePartitioned(
        postingsOf(docs).withColumn("batch_id", lit(-1L)).repartition(col("shard")),
        tmp, Seq("shard", "batch_id"))
      graft.sources.Sinks.overwritePartitioned(
        statsRowOf(docs, -1L).coalesce(1), tmp + "/_stats", Seq("batch_id"))
      graft.sources.Sinks.overwritePartitioned(
        docsRowsOf(docs, -1L).repartition(col("dshard")),
        tmp + "/_docs", Seq("dshard", "batch_id"))
    }

  /** Replay-idempotent incremental growth (the signature/ANN store
    * contract): a batch's postings land as a dynamic overwrite of its
    * (shard, batch_id) partitions and its stats row overwrites its
    * batch_id partition of the sidecar, so a replayed batch rewrites
    * itself instead of double-counting. The two writes are not atomic —
    * a crash between them leaves the batch's postings visible with its
    * stats row missing (scores skew until the replay heals both) — the
    * same at-least-once window every store here documents.
    * Probes need no rebuild: pruning is on the shard level, and df/
    * stats derive from what the probe reads.
    *
    * Cross-batch doc-DISJOINTNESS is the caller's obligation: the
    * exactness of tf/df/n_docs/sum_dl assumes each doc_id is only ever
    * ingested under ONE batch id — only a same-batch-id replay is
    * idempotent; re-ingesting a doc under a different batch id
    * double-counts its postings and sidecar contribution and skews BM25
    * silently (the streaming ingester satisfies this by construction:
    * micro-batches partition the source). `assertNewDocs = true` buys a
    * mechanical check before anything is written, and it is genuinely
    * probe-sized: membership lives in the `_docs` sidecar — ONE row per
    * (doc, batch), partitioned by doc-hash shard — so the guard reads
    * the incoming docs' shard directories of a |docs|-cardinality
    * table, never the |postings|-cardinality corpus. A fresh path
    * passes vacuously (the guard is how a store is bootstrapped safely
    * from batch 0); a pre-sidecar store gets its sidecar backfilled
    * from one postings scan before anything lands
    * ([[ensureDocsSidecar]]). SearchSpec drives the pass, the
    * same-batch replay, the rejection, and the fresh-store bootstrap.
    *
    * Write order is membership FIRST, then postings, then stats: the
    * three dynamic overwrites share the usual at-least-once crash
    * window (a same-batch replay heals all three), and landing `_docs`
    * before any posting guarantees a crashed append can never leave
    * postings the guard doesn't know about — the conservative failure
    * is a membership row whose postings are still missing, which
    * REJECTS a different-batch re-ingest instead of silently
    * double-counting it. */
  def appendSearchIndexBatch(s: SparkSession, newDocs: DataFrame, path: String,
      batchId: Long, assertNewDocs: Boolean = false): Unit =
      graft.sources.StoreLock.withLock(path, "append") {
    require(batchId >= 0, "scoped batch ids are non-negative (negatives are store-internal)")
    if (assertNewDocs) requireNewDocs(s, path, newDocs, batchId)
    else {
      graft.sources.Stores.recover(s, path)
      ensureDocsSidecar(s, path)
    }
    graft.sources.Sinks.overwritePartitionsDynamic(
      docsRowsOf(newDocs, batchId).repartition(col("dshard")),
      path + "/_docs", Seq("dshard", "batch_id"))
    graft.sources.Sinks.overwritePartitionsDynamic(
      postingsOf(newDocs).withColumn("batch_id", lit(batchId)).repartition(col("shard")),
      path, Seq("shard", "batch_id"))
    graft.sources.Sinks.overwritePartitionsDynamic(
      statsRowOf(newDocs, batchId).coalesce(1), path + "/_stats", Seq("batch_id"))
  }

  /** The `assertNewDocs` check of [[appendSearchIndexBatch]] on its own,
    * for callers that must refuse before mutating OTHER stores
    * (`Pipeline.ingestDocs` runs it in its guard phase): refuses when an
    * incoming doc_id is already a member under another batch id.
    * Recovers the store and backfills a pre-sidecar store's `_docs`
    * membership first, under the store's writer claim; a fresh path
    * passes vacuously. */
  def requireNewDocs(s: SparkSession, path: String, newDocs: DataFrame,
      batchId: Long): Unit =
      graft.sources.StoreLock.withLock(path, "guard") {
    graft.sources.Stores.recover(s, path)
    ensureDocsSidecar(s, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    val incoming = newDocs.select("doc_id").distinct()
    if (fs.exists(new org.apache.hadoop.fs.Path(path + "/_docs"))) {
      // prune the membership read to the incoming docs' shards
      // (bounded collect: ≤ PostingShards distinct values)
      val shards = incoming.select(docShard(col("doc_id")).as("dshard"))
        .distinct().collect().map(_.getLong(0)).toSeq
      val clash = s.read.parquet(path + "/_docs")
        .filter(col("dshard").isin(shards: _*) && col("batch_id") =!= batchId)
        .join(incoming, Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"batch $batchId re-ingests doc_ids already stored under another batch id " +
          "(cross-batch doc-disjointness is the store's exactness precondition)")
    } // else: fresh path — vacuously disjoint, the bootstrap-from-batch-0 case
  }

  /** Retract documents from the posting store — the search-index half
    * of the deletion story, with one obligation the signature/vector
    * stores don't have: BM25's GLOBAL stats (N, avgdl) must shrink
    * exactly, or every surviving score skews. The tombstone rows carry
    * each retracted doc's `dl` alongside the id (captured from its live
    * posting rows in one scan — the price of a rare maintenance op), so
    * the stats correction is DERIVED FROM THE SIDECAR at read time
    * ([[searchStats]]): there is no separate correction row to keep
    * consistent, a replayed retraction appends identical rows that the
    * per-doc fold collapses, and the correction disappears exactly when
    * the sidecar does (the final compaction absorbs it into the folded
    * bootstrap stats in the same atomic swap that clears the
    * tombstones). A retracted id that was never indexed records dl = 0
    * and is excluded from the correction — it must not shrink N.
    *
    * Probes subtract the tombstones, so tf/df/dl of retracted docs
    * vanish from scoring immediately; re-ingesting a retracted doc_id
    * under a new batch stays REJECTED (the `_docs` disjointness guard
    * still lists it, and the retained tombstone would hide the fresh
    * rows) until a compaction has physically purged it. */
  def retractSearchDocs(s: SparkSession, path: String, docIds: Seq[Long]): Unit = {
    require(docIds.nonEmpty, s"retractSearchDocs($path): empty doc-id set")
    graft.sources.Stores.recover(s, path)
    import s.implicits._
    val ids = docIds.toDF("doc_id")
    // only ids with LIVE rows get tombstones: there is nothing to hide
    // for a never-indexed id, and a retraction REPLAYED after the final
    // compaction purged everything must be a no-op — a blind tombstone
    // there would silently hide (while the stats still count) a doc
    // later legitimately admitted under the same id, the
    // admission-then-invisibility failure this store refuses everywhere.
    // ONE scan: the live (doc_id, dl) rows are at most |docIds| (a doc's
    // posting rows all carry its one dl), so they are collected and the
    // sidecar is written from that local frame, not a re-run of the join
    val live = s.read.parquet(path)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select("doc_id", "dl").distinct()
    val dls = live.collect()
    if (dls.nonEmpty) graft.sources.Stores.retractRows(s, path,
      s.createDataFrame(java.util.Arrays.asList(dls: _*), live.schema))
  }

  /** The pending-retraction stats correction, derived from the sidecar:
    * (indexed-doc count, Σdl) over the tombstone set. Per-doc fold by
    * max(dl): a replayed retraction of an already-purged doc appends a
    * dl = 0 row beside the original's true length, and the true length
    * must win; rows that only ever saw dl = 0 (never-indexed ids) are
    * excluded entirely. */
  private def tombstoneStats(s: SparkSession, path: String): (Long, Long) =
    if (!graft.sources.Stores.hasTombstones(s, path)) (0L, 0L)
    else {
      val tomb = s.read.parquet(graft.sources.Stores.tombstonePath(path))
      // fail HERE, actionably, on a sidecar without the dl column (a
      // foreign or hand-written sidecar) — summing a correction of 0
      // for rows that hide real docs would silently skew every score
      require(tomb.columns.contains("dl"),
        s"$path/_tombstones lacks the dl column retractSearchDocs writes; " +
          "this store's retraction sidecars must carry (doc_id, dl)")
      val t = tomb
        .groupBy("doc_id").agg(max("dl").as("dl"))
        .filter(col("dl") > 0)
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl"))
        .collect()(0)
      (t.getLong(0), t.getLong(1))
    }

  /** The stored index's BM25 global stats: the additive `_stats` rows
    * summed, minus the pending-retraction correction — one definition
    * for the probe face and the specs, so the correction can never be
    * applied in one place and forgotten in another. */
  def searchStats(s: SparkSession, path: String): DataFrame = {
    val (k, sdl) = tombstoneStats(s, path)
    // All-retracted guard: with every indexed doc tombstoned the avgdl
    // denominator is 0 and the old expression silently produced a null
    // avgdl that propagated null/NaN BM25 scores downstream. An index
    // whose whole corpus is retracted has no meaningful global stats —
    // fail loudly at the read (the store's no-silent-partial doctrine)
    // instead of scoring against ghosts. raise_error keeps the check
    // inside the lazily-composed frame, so every probe face that embeds
    // these stats inherits the guard without an extra eager read.
    s.read.parquet(path + "/_stats")
      .agg((sum("n_docs") - lit(k)).as("n_docs"),
        when(sum("n_docs") - lit(k) > 0,
            (sum("sum_dl") - lit(sdl)) / (sum("n_docs") - lit(k)))
          .otherwise(raise_error(lit(
            s"searchStats($path): every indexed document has been retracted " +
              "(n_docs - tombstones = 0) — avgdl is undefined; compact the " +
              "retraction through or re-index before scoring")))
          .as("avgdl"))
  }

  /** Compact the posting store: fold every batch partition BELOW the
    * caller's replay watermark into the bootstrap layout (and their
    * sidecar rows into one summed stats row), leaving newer batches
    * untouched. `foldBelow` is the caller's statement that no replay of
    * batch ids under it can still arrive (the streaming checkpoint has
    * advanced past them) — the signature/ANN stores preserve ALL scoped
    * partitions because they cannot know that; a watermark is how a
    * deployment actually bounds partition-count growth under continuous
    * ingest. Folding moves rows between partitions and sums sidecar
    * longs — it can never change a score (SearchSpec asserts scores and
    * the preserved batch's replay contract across a compaction).
    * Crash-safe via [[graft.sources.Stores.compactInPlace]]; the stats
    * sidecar is read from the LIVE store inside the temp-write (the
    * underscore dir is invisible to the corpus read), so both artifacts
    * swap together. No-op when nothing folds. Run while no writer is
    * active. */
  def compactSearchIndex(s: SparkSession, path: String, foldBelow: Long): Unit =
      graft.sources.StoreLock.withLock(path, "compact") {
    graft.sources.Stores.recover(s, path)
    ensureDocsSidecar(s, path)
    graft.sources.Stores.clearResidue(s, path)
    val foldable = graft.sources.Stores.subPartitionDirs(s, path)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
      .filter(b => b >= 0 && b < foldBelow)
    // pending retractions force the rewrite even with nothing to fold:
    // compaction is their physical-purge step
    if (foldable.isEmpty && !graft.sources.Stores.hasTombstones(s, path)) return
    // Partitions AT/ABOVE the watermark may still replay (the caller's
    // contract protects only those below it), so — the compactSignatures
    // rule — tombstoned rows purge from the FOLDED branch only, and while
    // any replay-protected partition remains the tombstone sidecar rides
    // through the swap: a replayed batch re-inserts its rows verbatim,
    // and only a surviving tombstone keeps the retracted ones invisible.
    // The stats correction stays sidecar-derived ([[searchStats]]) until
    // the sidecar clears; the FINAL fold (nothing replayable left)
    // absorbs it into the bootstrap stats row in the same swap.
    val scopedRemain = graft.sources.Stores.replayProtectedRemain(s, path, foldBelow)
    graft.sources.Stores.compactInPlace(s, path) { df0 =>
      val df = graft.sources.Stores.minusTombstones(s, path, "doc_id", df0)
      df.filter(col("batch_id") < foldBelow).withColumn("batch_id", lit(-1L))
        .unionByName(df0.filter(col("batch_id") >= foldBelow))
    } { (df, tmp) =>
      graft.sources.Sinks.overwritePartitioned(
        df.repartition(col("shard")), tmp, Seq("shard", "batch_id"))
      val st = s.read.parquet(path + "/_stats")
      // absorbing the correction while tombstones survive would
      // double-subtract (reads still derive it from the sidecar)
      val (tk, tsdl) = if (scopedRemain) (0L, 0L) else tombstoneStats(s, path)
      val folded = st.filter(col("batch_id") < foldBelow)
        .agg((sum("n_docs") - lit(tk)).as("n_docs"),
          (sum("sum_dl") - lit(tsdl)).as("sum_dl"))
        .withColumn("batch_id", lit(-1L))
      graft.sources.Sinks.overwritePartitioned(
        folded.unionByName(st.filter(col("batch_id") >= foldBelow)
          .select("n_docs", "sum_dl", "batch_id")).coalesce(1),
        tmp + "/_stats", Seq("batch_id"))
      // membership sidecar folds the same way: folded batches' rows move
      // to batch_id=-1 (distinct keeps the fold's output duplicate-free —
      // under the doc-disjointness precondition nothing else can collide).
      // Tombstoned membership drops ONLY at the final fold: while the
      // sidecar survives, a dropped membership row would let a re-ingest
      // pass the disjointness guard and then be silently hidden by the
      // retained tombstone — admission-then-invisibility, worse than the
      // rejection the guard gives today.
      val dm0 = s.read.parquet(path + "/_docs")
      val dm = if (scopedRemain) dm0
        else graft.sources.Stores.minusTombstones(s, path, "doc_id", dm0)
      graft.sources.Sinks.overwritePartitioned(
        dm.filter(col("batch_id") < foldBelow).withColumn("batch_id", lit(-1L))
          .unionByName(dm.filter(col("batch_id") >= foldBelow))
          .select("doc_id", "batch_id", "dshard").distinct()
          .repartition(col("dshard")),
        tmp + "/_docs", Seq("dshard", "batch_id"))
      if (scopedRemain) graft.sources.Stores.carryTombstonesInto(s, path, tmp)
      // folding scoped batches bounds the as-of horizon (the vacuum
      // rule; see probeSearchIndexAsOf) — recorded atomically with the
      // layout it describes
      graft.sources.Stores.writeHorizonInto(s, path, tmp, foldBelow)
    }
  }

  /** Probe-side scan of the stored index: shard ids derive from the
    * SAME [[termShard]] expression via a |terms|-row local frame
    * (control-plane-bounded collect), then the `isin` over the
    * partition column prunes the scan to ≤ |terms| of
    * [[PostingShards]] directories before any row is read (PlanSpec
    * asserts the filters reach the scan). */
  def probeSearchIndex(s: SparkSession, path: String, terms: Seq[String]): DataFrame = {
    graft.sources.Stores.recover(s, path)
    import s.implicits._
    val shards = terms.toDF("word").select(termShard(col("word")).as("shard"))
      .distinct().as[Long].collect().toSeq
    // pending retractions subtract here, so tf/df/dl of tombstoned docs
    // never reach scoring (their N/avgdl contribution is cancelled by
    // the sidecar-derived correction searchStats applies)
    graft.sources.Stores.minusTombstones(s, path, "doc_id",
      s.read.parquet(path)
        .filter(col("shard").isin(shards: _*) && col("word").isin(terms: _*)))
  }

  /** [[probeSearchIndex]] AS OF admission batch `asOf` — the posting
    * store's member of the data-plane time-travel family
    * ([[graft.operators.Dedup.gateAgainstStoredAsOf]] documents the
    * shared semantics: partition-filtered read, retractions erase
    * history, compaction bounds the horizon with a loud refusal). */
  def probeSearchIndexAsOf(s: SparkSession, path: String, terms: Seq[String],
      asOf: Long): DataFrame = {
    graft.sources.Stores.requireAsOfReconstructable(s, path, asOf)
    probeSearchIndex(s, path, terms)
      .filter(col("batch_id").cast("long") <= asOf)
  }

  /** [[searchStats]] as of batch `asOf`. The stats rows are themselves
    * batch-scoped (additive), so the global-stats slice is a partition
    * filter; the retraction correction is re-derived against the AS-OF
    * MEMBERSHIP (the `_docs` sidecar, docs-sized): the live sidecar's
    * (doc, dl) rows carry no admission batch, and a doc retracted but
    * only ever indexed AFTER `asOf` must not shrink the as-of stats. */
  def searchStatsAsOf(s: SparkSession, path: String, asOf: Long): DataFrame = {
    graft.sources.Stores.requireAsOfReconstructable(s, path, asOf)
    val (k, sdl) =
      if (!graft.sources.Stores.hasTombstones(s, path)) (0L, 0L)
      else {
        ensureDocsSidecar(s, path)
        val present = s.read.parquet(path + "/_docs")
          .filter(col("batch_id").cast("long") <= asOf).select("doc_id")
        val t = s.read.parquet(graft.sources.Stores.tombstonePath(path))
          .groupBy("doc_id").agg(max("dl").as("dl"))
          .filter(col("dl") > 0)
          .join(present, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl"))
          .collect()(0)
        (t.getLong(0), t.getLong(1))
      }
    s.read.parquet(path + "/_stats")
      .filter(col("batch_id").cast("long") <= asOf)
      .agg((sum("n_docs") - lit(k)).as("n_docs"),
        when(sum("n_docs") - lit(k) > 0,
            (sum("sum_dl") - lit(sdl)) / (sum("n_docs") - lit(k)))
          .otherwise(raise_error(lit(
            s"searchStatsAsOf($path, $asOf): no indexed documents at this state")))
          .as("avgdl"))
  }

  /** [[qBm25]] served from the STORED index instead of a corpus scan —
    * the production retrieval path: the full-vocabulary posting pass is
    * paid once at write time, and a query reads only its terms' shard
    * directories plus the batch-rows of the stats sidecar. Identical
    * output to [[qBm25]] by construction (same tf/dl/df/stats values
    * through the same [[scoreBm25]]), so it shares q_bm25's oracle;
    * SearchSpec asserts the equality verbatim, including across
    * appends. */
  def qBm25Probe(s: SparkSession, dir: String): DataFrame = {
    val path = searchIndexPath(dir)
    graft.sources.TmpStores.buildOnce(path)(writeSearchIndex(s, dir, path))
    val hits = probeSearchIndex(s, path, QueryTerms)
      .select("doc_id", "dl", "word", "tf")
    scoreBm25(hits, searchStats(s, path))
  }

  /** BM25 AS OF a pre-append state (own store path): bootstrap without
    * the %10 = 5 docs, append them as batch 7, score as of batch 6.
    * The oracle runs the in-query BM25 over the bootstrap corpus alone
    * — green only if BOTH the posting slice AND the global stats
    * (N, avgdl — batch-scoped additive rows) reconstruct the
    * pre-append state exactly; a stats leak from batch 7 would move
    * every surviving score. */
  def qBm25Asof(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val path = graft.sources.TmpStores.scopedPath("graft-searchasof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeSearchIndexFrom(s, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 5), path)
      appendSearchIndexBatch(s, docs.filter(pmod(col("doc_id"), lit(10L)) === 5),
        path, 7L)
    }
    val hits = probeSearchIndexAsOf(s, path, QueryTerms, asOf = 6L)
      .select("doc_id", "dl", "word", "tf")
    scoreBm25(hits, searchStatsAsOf(s, path, asOf = 6L))
  }

  // ---- hybrid retrieval (BM25 + dense, reciprocal-rank fusion) -------------

  /** RRF constant (Cormack et al. 2009's k=60 default). */
  private val RrfK = 60
  private val HybridCandidates = 20
  private val HybridTopK = 10

  /** Attach `name` = dense-rank-of-this-frame's top candidates. The
    * candidate cut is orderBy+limit (TakeOrderedAndProject: per-partition
    * heap + driver merge, no global sort); the row_number that follows
    * runs over the ALREADY-LIMITED candidate set — a single task of
    * [[HybridCandidates]] rows, control-plane-bounded by construction,
    * never the full corpus through one window. */
  private def rankTop(df: DataFrame, order: Seq[Column], name: String): DataFrame =
    df.orderBy(order: _*).limit(HybridCandidates)
      .withColumn(name,
        row_number().over(Window.orderBy(order: _*)).cast(LongType))

  /** Hybrid search: fuse the lexical BM25 ranking with a dense cosine
    * ranking (query = the corpus vector with vec_id 0, the q_ann_topk
    * convention of deriving queries from the data) by reciprocal-rank
    * fusion: score(d) = Σ_legs 1/(k + rank_leg(d)).
    *
    * RRF is the standard hybrid fusion precisely because it is
    * RANK-based: no score normalization across incommensurable scales,
    * and — what matters for the differential gate — the fused score is
    * a two-term sum of exact rationals of small ints, deterministic on
    * any engine. Each leg scales independently (BM25 via the term-
    * filtered corpus scan or the stored posting index; cosine via
    * brute-force here, the IVF/LSH stores at size); the fusion itself
    * joins two [[HybridCandidates]]-row frames — driver-trivial at any
    * corpus size.
    */
  def qHybridSearch(s: SparkSession, dir: String): DataFrame = {
    val lex = rankTop(bm25(Tables.documents(s, dir)),
      Seq(col("bm25").desc, col("doc_id")), "rank_lex")
      .select(col("doc_id"), col("rank_lex"))
    val e = Similarity.withNorm(Tables.embeddings(s, dir))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("cosine",
        round(Similarity.dotCol(col("q_emb"), col("embedding"))
          / (col("q_nrm") * col("nrm")), 6))
    val dense = rankTop(scored.select(col("vec_id"), col("cosine")),
      Seq(col("cosine").desc, col("vec_id")), "rank_dense")
      .select(col("vec_id").as("doc_id"), col("rank_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_dense")), lit(0.0)), 6))
      .select("doc_id", "rank_lex", "rank_dense", "rrf_score")
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(HybridTopK)
  }

  // ---- fuzzy (edit-distance) join ------------------------------------------

  /** Per-block pair cap — [[Dedup]]'s NgramBucketCap rationale: a
    * deterministic bound on any one block's pair count (cap² not
    * block²), trading bounded recall inside mega-blocks for a bounded
    * join at any corpus size. */
  private val FuzzyBlockCap = 256
  private val FuzzyPrefixLen = 40
  private val FuzzyMaxDist = 12L

  /** Edit-distance self-join: pairs of documents whose normalized
    * 40-char prefixes are within Levenshtein distance [[FuzzyMaxDist]],
    * blocked on the first 8 normalized chars.
    *
    * Distribution: the block key is the ONLY join key — one shuffle on
    * `blk`, pairs form inside blocks, and the row_number cap bounds any
    * block at [[FuzzyBlockCap]] members before the join (skew-proof by
    * construction). Levenshtein runs on 40-char prefixes, so per-pair
    * cost is a constant ~1600 cell DP, not |doc|². At 100 TB the same
    * blocking carries: pair volume ∝ Σ min(block, cap)², never corpus².
    */
  private[graft] def fuzzyPairs(docs: DataFrame): DataFrame = {
    val byBlock = Window.partitionBy("blk").orderBy("doc_id")
    val base = docs
      .select(col("doc_id"), TextOps.normText(col("text")).as("norm"))
      .filter(length(col("norm")) >= 8)
      .select(col("doc_id"), substring(col("norm"), 1, 8).as("blk"),
        substring(col("norm"), 1, FuzzyPrefixLen).as("pfx"))
      .withColumn("rn", row_number().over(byBlock))
      .filter(col("rn") <= FuzzyBlockCap).drop("rn")
    val a = base.select(col("doc_id").as("doc_a"), col("blk"), col("pfx").as("pfx_a"))
    val b = base.select(col("doc_id").as("doc_b"), col("blk"), col("pfx").as("pfx_b"))
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("edit_dist", levenshtein(col("pfx_a"), col("pfx_b")).cast(LongType))
      .filter(col("edit_dist") <= FuzzyMaxDist)
      .select("doc_a", "doc_b", "edit_dist")
      .orderBy("doc_a", "doc_b")
  }

  def qFuzzyJoin(s: SparkSession, dir: String): DataFrame =
    fuzzyPairs(Tables.documents(s, dir))

  // ---- registry -------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25" -> qBm25 _,
    "q_bm25_probe" -> qBm25Probe _,
    "q_bm25_asof" -> qBm25Asof _,
    "q_hybrid_search" -> qHybridSearch _,
    "q_fuzzy_join" -> qFuzzyJoin _,
  )

  private val duckNorm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g'))"

  // the stored probe is output-identical to the in-query scorer by
  // construction, so BOTH keys carry this one SQL: a drift between the
  // faces fails the driver gate on q_bm25_probe even if q_bm25 passes
  /** The BM25 CTE chain (shared by the q_bm25/q_bm25_probe oracle and
    * the hybrid oracle's lexical leg — one SQL body per scoring path,
    * the [[Dedup]] duckGramCtes discipline). */
  private val bm25Ctes: String = bm25CtesWith("TRUE")

  /** [[bm25Ctes]] over a filtered corpus — the as-of oracle replays the
    * scorer against the documents the sliced store was built from. */
  private def bm25CtesWith(pred: String): String =
      s"""n AS (SELECT doc_id, $duckNorm AS t FROM documents WHERE $pred),
        |d AS (SELECT doc_id, t,
        |        CAST(length(t) - length(replace(t, ' ', '')) + 1 AS BIGINT) AS dl FROM n),
        |w AS (SELECT doc_id, dl, unnest(string_split(t, ' ')) AS word FROM d),
        |tf AS (SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf FROM w
        |       WHERE word IN (${QueryTerms.map("'" + _ + "'").mkString(", ")})
        |       GROUP BY 1, 2, 3),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, sum(dl) / count(*) AS avgdl FROM d),
        |sc AS (SELECT doc_id,
        |         CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |           * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1000000.0)
        |           AS BIGINT) AS fp
        |       FROM tf JOIN df USING (word) CROSS JOIN s),
        |bm AS (SELECT doc_id, round(sum(fp) / 1000000.0, 6) AS bm25,
        |         CAST(count(*) AS BIGINT) AS n_terms
        |       FROM sc GROUP BY doc_id
        |       ORDER BY bm25 DESC, doc_id LIMIT 20)""".stripMargin

  private val bm25OracleSql: String =
    s"WITH $bm25Ctes\nSELECT doc_id, bm25, n_terms FROM bm ORDER BY bm25 DESC, doc_id"

  val oracles: Map[String, String] = Map(
    "q_bm25" -> bm25OracleSql,
    "q_bm25_probe" -> bm25OracleSql,
    // as-of face: the oracle's corpus is the BOOTSTRAP alone — green only
    // if the as-of slice hides batch 7's postings AND stats rows
    "q_bm25_asof" -> (s"WITH ${bm25CtesWith("doc_id % 10 <> 5")}\n" +
      "SELECT doc_id, bm25, n_terms FROM bm ORDER BY bm25 DESC, doc_id"),
    "q_hybrid_search" ->
      s"""WITH $bm25Ctes,
        |lex AS (SELECT doc_id,
        |          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_lex
        |        FROM bm),
        |e AS (SELECT vec_id, embedding,
        |        sqrt(list_aggregate(list_transform(range(1, length(embedding) + 1),
        |          i -> cast(embedding[i] AS double) * cast(embedding[i] AS double)), 'sum')) AS nrm
        |      FROM embeddings),
        |q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
        |ds AS (SELECT e.vec_id,
        |         round(list_aggregate(list_transform(range(1, length(q.q_emb) + 1),
        |             i -> cast(q.q_emb[i] AS double) * cast(e.embedding[i] AS double)), 'sum')
        |           / (q.q_nrm * e.nrm), 6) AS cosine
        |       FROM e, q WHERE e.vec_id <> 0),
        |d0 AS (SELECT vec_id, cosine FROM ds ORDER BY cosine DESC, vec_id LIMIT 20),
        |dr AS (SELECT vec_id AS doc_id,
        |         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank_dense
        |       FROM d0)
        |SELECT doc_id, rank_lex, rank_dense,
        |  round(COALESCE(1.0 / (60 + rank_lex), 0.0) +
        |        COALESCE(1.0 / (60 + rank_dense), 0.0), 6) AS rrf_score
        |FROM lex FULL OUTER JOIN dr USING (doc_id)
        |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,
    "q_fuzzy_join" ->
      s"""WITH n AS (SELECT doc_id, $duckNorm AS t FROM documents),
        |f AS (SELECT doc_id, substr(t, 1, 8) AS blk, substr(t, 1, $FuzzyPrefixLen) AS pfx
        |      FROM n WHERE length(t) >= 8),
        |c AS (SELECT doc_id, blk, pfx,
        |        row_number() OVER (PARTITION BY blk ORDER BY doc_id) AS rn FROM f),
        |g AS (SELECT doc_id, blk, pfx FROM c WHERE rn <= $FuzzyBlockCap)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
        |FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.pfx, b.pfx) <= $FuzzyMaxDist
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
