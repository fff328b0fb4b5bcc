package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.Tables

/** The capstone composition: a complete training-data corpus-cleaning
  * pipeline assembled from the engine's verified stages —
  *
  *   quality gate → exact dedup (keep min id per content hash) →
  *   near-dup drop set (connected-component non-survivors) →
  *   per-language corpus statistics
  *
  * Each stage is the same logic its standalone query verifies; this
  * query proves they COMPOSE (one plan, no driver round-trips between
  * stages except the clustering iterations). At 100 TB each arrow is one
  * of the already-audited shapes: shuffle-free projections/filters, a
  * hash-partitioned window for exact dedup, an anti-join against the
  * (small) drop set, and a final grouped aggregate.
  */
object Pipeline {

  private def nWordsCol = size(split(trim(col("text")), " +")).cast(LongType)
  // empty-text guard mirrors qTextQuality's: the funnel FILTER
  // evaluates the ratio before n_words can exclude the doc, so an
  // unguarded 0/0 would abort the pipeline under ANSI
  private def punctRatioCol = when(length(col("text")) > 0,
    length(regexp_replace(col("text"), "[a-z ]", "")) / length(col("text")).cast("double"))
    .otherwise(lit(0.0))

  /** Stages 1+2 of the capstone — quality gate, then exact dedup (keep
    * min doc_id per 128-bit content hash). Exposed so a spec can pin
    * the stage-INPUT contract: the expensive near-dup fingerprint pass
    * reads THIS frame, strictly smaller than the raw corpus. */
  def gatedSurvivors(s: SparkSession, dir: String): DataFrame = {
    // 1. quality gate (TextOps.qTextQuality's signals). The gate's two
    // derived signals ride along as columns (r22, guide §1.2 "don't
    // compute things twice"): the final per-language aggregate needs
    // exactly n_words and punct_ratio again, and re-deriving them there
    // re-ran the split + regexp over every surviving document — carrying
    // 16 bytes/row through the survivor checkpoint deletes that second
    // tokenize pass. Values are the same expressions evaluated in the
    // same place (the gate projection), so nothing the oracle sees moves.
    val gated = Tables.documents(s, dir)
      .withColumn("n_words", nWordsCol)
      .withColumn("punct_ratio", punctRatioCol)
      .filter(col("n_words") >= 20 && col("punct_ratio") < 0.2)
    // 2. exact dedup: min doc_id per content hash (Dedup.qDedupExact)
    val byHash = Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")
    gated.withColumn("__rn", row_number().over(byHash))
      .filter(col("__rn") === 1).drop("__rn")
  }

  def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    // reads the gate's carried columns, not the text (see gatedSurvivors)
    val qualityScore = round(lit(0.001) * col("n_words") + lit(1.0) - col("punct_ratio"), 6)
    // lazy local checkpoint: the survivor frame feeds BOTH the near-dup
    // fingerprint pass and the final anti-join — one materialization,
    // and the CC iterations inherit a truncated lineage (gateAgg's
    // documented pattern; persist() would pin blocks past this query)
    val survivors = gatedSurvivors(s, dir).localCheckpoint(eager = false)
    // 3. near-dup drop set over the SURVIVORS, not the raw corpus (r18
    // verdict item 3): the real pipeline order is cheap gates first —
    // at 100 TB, fingerprinting+clustering docs the gate already
    // dropped is one avoidable full-corpus pass. Same banded pair
    // generation and O(log n) large-star/small-star contraction as the
    // standalone q_dedup_clusters, composed over the gated frame.
    val pairs = Dedup.ngramPairsOf(survivors.select("doc_id", "text"))
    val labels = Dedup.clusterPairs(pairs.select("doc_a", "doc_b"),
      ckpt = Checkpointer.fromConf(s))
    val nearDrops = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    val cleaned = survivors.join(nearDrops, Seq("doc_id"), "leftanti")
    // 4. per-language corpus statistics (decimal sums → order-independent)
    cleaned.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_ws_tokens"),
        sum(qualityScore.cast("decimal(18,6)")).cast(DoubleType).as("sum_quality"))
      .orderBy("lang")
  }

  /** The quality FUNNEL: the round-9 scorers composed as sequential
    * gates, reported as per-language attrition counts —
    *
    *   repetition rules (TextOps.repetitionStats, Gopher family) →
    *   corpus-LM score ≥ [[TextOps.LmScoreMin]] (TextOps.lmScore) →
    *   pass
    *
    * A doc failing an earlier gate is not counted against later ones
    * (the real pipeline shape: cheap rules first, the LM pass only on
    * survivors). Documents too short to score (<2 words: no repetition
    * row, no bigrams) pass both gates by definition — left joins +
    * coalesce make that explicit. Output is pure counts: the
    * differential compare is exact regardless of float scoring inside.
    * Composes with `ordered = false` stages, so the only global sort is
    * the final per-language one. */
  def qQualityFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val rep = TextOps.repetitionStats(docs, ordered = false)
      .select(col("doc_id"), col("flagged"))
    val lm = TextOps.lmScore(docs, ordered = false)
      .select(col("doc_id"), col("avg_logp"))
    docs.select("doc_id", "lang")
      .join(rep, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .withColumn("fail_rep", (coalesce(col("flagged"), lit(0)) === 1).cast("int"))
      .withColumn("fail_lm", (col("fail_rep") === 0 &&
        coalesce(col("avg_logp"), lit(0.0)) < TextOps.LmScoreMin).cast("int"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum("fail_rep").cast(LongType).as("n_fail_repetition"),
        sum("fail_lm").cast(LongType).as("n_fail_lm"),
        (count(lit(1)) - sum("fail_rep") - sum("fail_lm")).cast(LongType).as("n_pass"))
      .orderBy("lang")
  }

  /** Every stored artifact family a document can inhabit, for one
    * deployment's corpus. All optional: absent stores are skipped, so
    * one definition serves any subset a deployment actually maintains.
    * `vectors` assumes the store's vec_id carries the document id (the
    * embedding-per-document convention of the in-repo pipelines); a
    * deployment with its own id mapping resolves doc→vec ids before the
    * call. */
  final case class DocStores(
      signatures: Option[String] = None,
      vectors: Seq[String] = Nil,
      postings: Option[String] = None,
      lmModel: Option[String] = None,
      nbModel: Option[String] = None)

  /** THE deletion entry point: forget `docs` in every store of
    * `stores` — signature tombstones ([[Dedup.retractSignatures]]),
    * vector-index tombstones ([[Similarity.retractVectors]], IVF and
    * LSH), posting tombstones with the BM25 stats correction
    * ([[Search.retractSearchDocs]]), and the trained-model negative
    * corrections of the count stores ([[graft.sources.CountStore.retract]]
    * through [[TextOps.retractLmDocs]]/[[TextOps.retractNbDocs]],
    * which need the doc TEXT — the reason this takes the docs frame,
    * not bare ids). After it returns, every read face answers as if the
    * docs were never ingested; the physical purge completes at each
    * store's next compaction, per its own replay watermark.
    *
    * NOT one transaction, deliberately: the stores are independent
    * artifacts with independent writers, and a cross-store commit
    * protocol would couple every pipeline to every other's availability.
    * The composition's crash contract is instead IDEMPOTENT RESUME —
    * each component retraction is atomic and replay-idempotent, so a
    * crash mid-call leaves some stores retracted and some not, and
    * re-running the same call converges (ForgetSpec drives exactly that
    * partial-crash-then-rerun path).
    *
    * The stores' retractions run CONCURRENTLY, one driver thread per
    * routed store ([[perStore]]), each under its own store's writer
    * claim. A worker holds one claim and waits for no other, so two
    * racing forget or ingest calls cannot deadlock. The call returns
    * only after every retraction has finished; a failed store does not
    * stop the others, and the first failure in [[DocStores]] field order
    * is rethrown (the rest ride along as suppressed).
    *
    * The id set is collected once (doc ids of a deletion request —
    * control-plane volume by nature, the same bound every tombstone
    * sidecar already assumes). */
  def forgetDocs(s: SparkSession, stores: DocStores, docs: DataFrame): Unit = {
    val ids = docs.select(col("doc_id").cast(LongType)).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    require(ids.nonEmpty, "forgetDocs: empty deletion request")
    // each family's whole retraction runs under its store's writer claim
    // (graft.sources.StoreLock)
    def locked(p: String)(body: => Unit): () => Unit =
      () => graft.sources.StoreLock.withLock(p, "forget")(body)
    perStore(s,
      stores.signatures.toSeq.map(p => locked(p)(Dedup.retractSignatures(s, p, ids))) ++
        stores.vectors.map(p => locked(p)(Similarity.retractVectors(s, p, ids))) ++
        stores.postings.toSeq.map(p => locked(p)(Search.retractSearchDocs(s, p, ids))) ++
        stores.lmModel.toSeq.map(p => locked(p)(TextOps.retractLmDocs(s, p, docs))) ++
        stores.nbModel.toSeq.map(p => locked(p)(TextOps.retractNbDocs(s, p, docs))))
  }

  /** Most worker threads one [[perStore]] call starts: one per routed
    * store of a [[DocStores]] with one vector store. */
  private val MaxStoreWorkers = 5

  /** Run one task per routed store concurrently and wait for ALL of them
    * before returning or throwing — the callers' writer claims are
    * released only after this returns, so no claim is released while a
    * store's work is still running under it. Each worker runs under the
    * caller's claims and lock-wait floor (a [[graft.sources.StoreLock]]
    * hand-off) and the caller's Spark thread locals (active session, job
    * group, job tags, streaming properties — so its jobs cancel with the
    * caller's job group and listeners attribute them to the caller). A
    * failure does not stop the other tasks; the first in task order is
    * rethrown with the others suppressed. One task runs inline. */
  private def perStore(s: SparkSession, tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else graft.sources.StoreLock.handingOff { claims =>
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tasks.size, MaxStoreWorkers), (r: Runnable) => {
          val t = new Thread(r, s"graft-store-worker-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      try {
        val failures = tasks
          .map(t => org.apache.spark.sql.graftshim.Captured.submit(s, pool)(claims(t())))
          .flatMap { f =>
            try { f.join(); None }
            catch { case e: java.util.concurrent.CompletionException => Some(e.getCause) }
          }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdown()
    }

  /** A routed store holds a PENDING retraction of an incoming doc →
    * refuse before anything lands. The posting store's re-ingest rule
    * generalized to every family: a retained tombstone would silently
    * HIDE fresh index rows (the reader's anti-join cannot distinguish
    * old from re-admitted) or MIS-SUBTRACT from fresh model counts, so
    * re-admission of a forgotten doc becomes legal exactly when the
    * store's compaction has physically purged it. One bounded probe
    * job per tombstoned store (the sidecar is deletion-request-sized). */
  private def requireNoPendingRetraction(s: SparkSession, path: String,
      idCol: String, incoming: DataFrame, family: String): Unit = {
    // recover BEFORE the tombstone probe: a store left mid-compaction-
    // swap (live dir at .bak) would otherwise read as tombstone-free
    // and the re-ingest rule would be silently bypassed — the append
    // faces recover too, but only AFTER this guard has already decided
    graft.sources.Stores.recover(s, path)
    if (graft.sources.Stores.hasTombstones(s, path)) {
      val clash = incoming.select(col(idCol)).distinct()
        .join(s.read.parquet(graft.sources.Stores.tombstonePath(path))
          .select(idCol).distinct(), Seq(idCol), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"ingestDocs: batch re-ingests ids with PENDING retractions in the " +
          s"$family store $path — the retained tombstone would hide or corrupt " +
          "the fresh rows; run the store's compaction to purge them first " +
          "(the posting store's re-ingest rule, generalized)")
    }
  }

  /** Cross-batch doc-disjointness guard for a model store: an incoming
    * doc already trained under ANOTHER batch id would double-count its
    * contributions silently (the [[Search.appendSearchIndexBatch]]
    * `assertNewDocs` rule, wired here for the model stores through
    * their `_docs` admission sidecars — same-batch replays pass, which
    * is the idempotent-resume contract). A pre-sidecar store has no
    * membership to consult and keeps the caller-obligation contract. */
  private def requireNewDocsInModel(s: SparkSession, path: String,
      docs: DataFrame, batchId: Long, family: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path + "/_docs"))) return
    val clash = s.read.parquet(path + "/_docs")
      .filter(col("batch_id").cast(LongType) =!= batchId)
      .join(docs.select(col("doc_id").cast(LongType).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .limit(1).count()
    require(clash == 0L,
      s"ingestDocs: batch $batchId re-ingests doc_ids already trained into the " +
        s"$family store $path under another batch id — cross-batch " +
        "doc-disjointness is the store's exactness precondition")
  }

  /** Cross-batch doc-disjointness guard for an INDEX store (signature /
    * vector), whose membership IS its own rows — no `_docs` sidecar
    * needed: probe the store for the incoming ids under ANOTHER batch
    * id. Without it a re-ingest of an already-indexed doc under a fresh
    * batch id would silently DUPLICATE rows — duplicate candidate pairs
    * in the dedup gate, duplicate neighbors in top-k — the same
    * exactness hazard [[requireNewDocsInModel]] guards for the count
    * stores. Same-batch replays pass (idempotent resume).
    *
    * Cost scales with the BATCH, not the store: the incoming ids probe
    * the store's `_idbloom.bin` membership sidecar map-side
    * ([[graft.sources.IdBloom]] — built lazily from one column-pruned
    * id scan the first time this guard touches a store, then absorbed
    * into by every append face). A batch of entirely novel ids — the
    * common ingest — passes on the probe alone; only ids the filter
    * cannot rule out reach the exact verification scan, which is
    * column-pruned to (id, batch_id) and joined without a forced
    * broadcast (a large batch's distinct ids would exceed driver
    * limits under a mandatory broadcast build — AQE picks the
    * strategy, as [[requireNewDocsInModel]] already does).
    *
    * A store path holding no VISIBLE data — a fresh store whose first
    * ingest crashed mid-write leaves only underscore/dot staging
    * residue — reads as ABSENT: the documented idempotent-resume retry
    * of that first batch must converge, not die on parquet schema
    * inference over residue. */
  private def requireNewDocsInIndex(s: SparkSession, path: String,
      idCol: String, incoming: DataFrame, batchId: Long, family: String): Unit = {
    // a dir of pure underscore/dot staging residue is an absent store
    // (the FileIndex visibility rule, shared in Stores.hasVisibleData)
    if (!graft.sources.Stores.hasVisibleData(s, path)) return
    val incIds = incoming.select(col(idCol).cast(LongType).as(idCol)).distinct()
    // persist the probe survivors: the emptiness check and the exact
    // verification join otherwise EACH re-run the incoming distinct and
    // re-ship the 2 MiB filter as a plan literal — one pass, cached
    // (bounded by the batch's distinct ids), does the work once
    val possible = incIds.filter(
      graft.sources.IdBloom.mightContain(
        col(idCol), graft.sources.IdBloom.ensure(s, path, idCol))).persist()
    try {
      if (possible.count() == 0L) return // provably novel batch
      val clash = s.read.parquet(path)
        .select(col(idCol).cast(LongType).as(idCol), col("batch_id").cast(LongType).as("batch_id"))
        .filter(col("batch_id") =!= batchId)
        .join(possible, Seq(idCol), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"ingestDocs: batch $batchId re-ingests ids already present in the " +
          s"$family store $path under another batch id — the duplicate rows " +
          "would surface twice in every read face; cross-batch " +
          "doc-disjointness is the store's exactness precondition")
    } finally possible.unpersist()
  }

  /** Does `path` hold an IVF index (centroid sidecar) rather than an
    * LSH one? The routing test [[ingestDocs]] uses for the
    * [[DocStores.vectors]] paths — [[forgetDocs]] never needed it
    * because retraction is layout-independent ([[Similarity.retractVectors]]). */
  private def isIvfStore(s: SparkSession, path: String): Boolean =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path + "/_centroids"))

  /** THE ingest entry point — [[forgetDocs]]' admission twin: land one
    * corpus batch in every store of `stores` under ONE batch id,
    * instead of five append APIs with five batch-id conventions.
    * Routes: batch-scoped signature admission
    * ([[Dedup.appendSignaturesBatch]], the write the streaming gate
    * [[graft.streaming.EventStreams.gateBatch]] admits through — minus
    * the gate verdict, because ingest admits what the caller already
    * decided to admit), vector-index growth under the STORED
    * quantizer/bucketer ([[Similarity.appendIvfIndexBatch]] /
    * [[Similarity.appendAnnIndexBatch]], routed by the `_centroids`
    * sidecar that defines an IVF store), posting growth
    * ([[Search.appendSearchIndexBatch]], its cross-batch
    * doc-disjointness check run up front as [[Search.requireNewDocs]]),
    * and exact additive LM and NB growth
    * ([[graft.sources.CountStore.append]]). Cross-batch doc-disjointness
    * is every store's exactness precondition, as each append face
    * documents.
    *
    * Both trained models grow exactly: the LM and (since the NB store
    * went batch-scoped additive) the classifier are corpus statistics
    * whose batch counts sum to one-shot training on the union
    * (both count stores, [[graft.sources.CountStore.append]]), so every
    * scoring face immediately reflects the ingested batch — the full
    * symmetry with [[forgetDocs]], which retracts from the same five
    * families.
    *
    * Same crash contract as [[forgetDocs]]: NOT one transaction —
    * IDEMPOTENT RESUME. Every component write is a dynamic partition
    * overwrite keyed by `batchId` (a replay rewrites its own
    * partitions) and the Bloom absorb re-ORs the same bits, so a crash
    * mid-call leaves some stores grown and some not, and re-running
    * the same call converges (IngestSpec drives exactly that path).
    *
    * The call takes every routed store's writer claim up front, in the
    * fixed [[DocStores]] field order (so racing multi-store writers
    * cannot deadlock), and holds them until it returns. Inside, the
    * per-store work runs in two CONCURRENT phases, one driver thread
    * per routed store ([[perStore]]), with a barrier between them:
    *
    *  1. GUARDS — every store's admission guards at once: pending
    *     retractions ([[requireNoPendingRetraction]] — the re-ingest
    *     rule), cross-batch doc-disjointness (the index stores' id-Bloom
    *     probe, the posting store's `_docs` membership via
    *     [[Search.requireNewDocs]], the model stores' `_docs` sidecars).
    *  2. Barrier: if any guard refused, the call throws here, before any
    *     store has been mutated.
    *  3. APPENDS — every store's append at once. A failed append does
    *     not stop the others; the first failure in field order is
    *     rethrown once all have finished.
    *
    * The forget → compact → re-ingest round trip is the sanctioned
    * re-admission path, proven by IngestSpec. */
  def ingestDocs(s: SparkSession, stores: DocStores, docs: DataFrame,
      batchId: Long, vectors: Option[DataFrame] = None): Unit = {
    require(batchId >= 0, "scoped batch ids are non-negative (negatives are store-internal)")
    require(stores.vectors.isEmpty || vectors.nonEmpty,
      "ingestDocs: DocStores routes vector stores but no vectors frame was supplied")
    // ONE continuous writer claim per routed store for the WHOLE call
    // (guards + appends): a forgetDocs or compaction racing this call
    // waits (or fails loudly) instead of mutating between our admission
    // guards and our appends. The per-store workers re-enter these
    // claims through the StoreLock hand-off.
    graft.sources.StoreLock.withLocks(
      stores.signatures.toSeq ++ stores.vectors ++ stores.postings.toSeq ++
        stores.lmModel.toSeq ++ stores.nbModel.toSeq, "ingest") {
      // forgetDocs' empty-request rule, mirrored: an empty batch would
      // still stamp phantom batch partitions (a 0-doc _meta row) that
      // advance the stores' replay bookkeeping for no content — the
      // streaming twin (ingestBatch) already no-ops quiet feed ticks
      require(!docs.isEmpty, "ingestDocs: empty ingest batch")
      // (guard, append) per routed store, in DocStores field order
      val work: Seq[(() => Unit, () => Unit)] =
        stores.signatures.toSeq.map(p => (() => {
          requireNoPendingRetraction(s, p, "doc_id", docs, "signature")
          requireNewDocsInIndex(s, p, "doc_id", docs, batchId, "signature")
        }, () => Dedup.appendSignaturesBatch(s,
          Dedup.signaturesOf(docs.select("doc_id", "text")), p, batchId))) ++
        stores.vectors.map(p => (() => {
          requireNoPendingRetraction(s, p, "vec_id", vectors.get, "vector")
          requireNewDocsInIndex(s, p, "vec_id", vectors.get, batchId, "vector")
        }, () =>
          if (isIvfStore(s, p)) Similarity.appendIvfIndexBatch(s, vectors.get, p, batchId)
          else Similarity.appendAnnIndexBatch(s, vectors.get, p, batchId))) ++
        stores.postings.toSeq.map(p => (() => {
          requireNoPendingRetraction(s, p, "doc_id", docs, "posting")
          Search.requireNewDocs(s, p, docs, batchId)
        }, () => Search.appendSearchIndexBatch(s, docs.select("doc_id", "text"), p, batchId))) ++
        stores.lmModel.toSeq.map(p => (() => {
          requireNoPendingRetraction(s, p, "doc_id", docs, "LM model")
          requireNewDocsInModel(s, p, docs, batchId, "LM model")
        }, () => TextOps.appendLmBatch(s, docs, p, batchId))) ++
        stores.nbModel.toSeq.map(p => (() => {
          requireNoPendingRetraction(s, p, "doc_id", docs, "NB model")
          requireNewDocsInModel(s, p, docs, batchId, "NB model")
        }, () => TextOps.appendNbBatch(s, docs, p, batchId)))
      // a refusal throws out of the guard phase: nothing has landed yet
      perStore(s, work.map(_._1))
      perStore(s, work.map(_._2))
    }
  }

  /** Per-document storage PROVENANCE across a deployment's store
    * families — the audit face of the [[ingestDocs]]/[[forgetDocs]]
    * pair, answering the question a data-governance review actually
    * asks: for each of these docs, which stores hold it, under which
    * admission batch, and is a deletion still pending physical purge?
    * One row per (family, doc) with:
    *
    *  - `in_store`: rows physically present (PRE-tombstone — this is
    *    the audit view; every read face already subtracts tombstones,
    *    so "visible" = in_store ∧ ¬pending);
    *  - `batch_id`: the admission batch (-1 = bootstrap; null when
    *    absent) — batches are doc-disjoint, so it is unique per doc;
    *  - `pending_retraction`: a tombstone names the doc and the purge
    *    compaction has not yet run.
    *
    * Membership sources per family: the index stores' own rows
    * (signatures / vectors / postings via the `_docs` sidecar with a
    * postings-scan fallback for pre-sidecar stores), the model stores'
    * `_docs` admission sidecars. Scale: one membership read per routed
    * store joined to the request ids — provenance requests are
    * deletion-request-sized, the tombstone sidecars' own bound. */
  def docProvenance(s: SparkSession, stores: DocStores, docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id").cast(LongType).as("doc_id")).distinct()
    def face(family: String, path: String, idCol: String,
        membership: DataFrame): DataFrame = {
      val present = membership
        .select(col(idCol).cast(LongType).as("doc_id"),
          col("batch_id").cast(LongType).as("batch_id"))
        .groupBy("doc_id").agg(max("batch_id").as("batch_id"))
      val pend =
        if (!graft.sources.Stores.hasTombstones(s, path))
          s.range(0).select(col("id").as("doc_id"), lit(1).as("__p"))
        else s.read.parquet(graft.sources.Stores.tombstonePath(path))
          .select(col(idCol).cast(LongType).as("doc_id")).distinct()
          .withColumn("__p", lit(1))
      ids.join(present, Seq("doc_id"), "left")
        .join(pend, Seq("doc_id"), "left")
        .select(lit(family).as("family"), col("doc_id"),
          col("batch_id").isNotNull.cast("int").as("in_store"),
          col("batch_id"),
          coalesce(col("__p"), lit(0)).as("pending_retraction"))
    }
    val faces =
      stores.signatures.toSeq.map(p =>
        face("signature", p, "doc_id", s.read.parquet(p))) ++
      stores.vectors.map(p =>
        face("vector", p, "vec_id", s.read.parquet(p))) ++
      stores.postings.toSeq.map { p =>
        val membership =
          if (graft.sources.Stores.pathExists(s, p + "/_docs")) s.read.parquet(p + "/_docs")
          else s.read.parquet(p).select("doc_id", "batch_id")
        face("posting", p, "doc_id", membership)
      } ++
      stores.lmModel.toSeq.map(p =>
        face("lm_model", p, "doc_id", TextOps.lmStore.members(s, p))) ++
      stores.nbModel.toSeq.map(p =>
        face("nb_model", p, "doc_id", TextOps.nbStore.members(s, p)))
    require(faces.nonEmpty, "docProvenance: no stores routed")
    faces.reduce(_ unionByName _).orderBy("family", "doc_id")
  }

  /** [[docProvenance]] over a store set built THROUGH the composition
    * entry points themselves — the one oracle-gated query that drives
    * [[ingestDocs]] and [[forgetDocs]] end-to-end: bootstrap three
    * families without the %10 = 5 docs, admit those via ingestDocs as
    * batch 7, forget every %7 = 3 doc via forgetDocs, then report
    * provenance for the whole corpus. The oracle derives the expected
    * rows from the predicates alone — per-family membership (signatures
    * need ≥ 3 normalized words; posting/LM admission is unconditional),
    * admission batch by the %10 split, pending retraction by the %7
    * split — so green pins the entry-point composition, the membership
    * sidecars, and the tombstone state in one differential. */
  def qProvenance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val late = pmod(col("doc_id"), lit(10L)) === 5
    val retr = pmod(col("doc_id"), lit(7L)) === 3
    val base = graft.sources.TmpStores.scopedPath("graft-prov", dir)
    val stores = DocStores(
      signatures = Some(base + "/sig"),
      postings = Some(base + "/postings"),
      lmModel = Some(base + "/lm"))
    graft.sources.TmpStores.buildOnce(base) {
      Dedup.writeSignatures(Dedup.signaturesOf(docs.filter(!late)), base + "/sig")
      Search.writeSearchIndexFrom(s, docs.filter(!late), base + "/postings")
      TextOps.writeLmModel(s, docs.filter(!late), base + "/lm")
      ingestDocs(s, stores, docs.filter(late), batchId = 7L)
      forgetDocs(s, stores, docs.filter(retr))
    }
    docProvenance(s, stores, docs)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_e2e" -> qPipelineE2e _,
    "q_quality_funnel" -> qQualityFunnel _,
    "q_provenance" -> qProvenance _,
  )

  val oracles: Map[String, String] = Map(
    // the oracle applies the SAME stage order as the Spark side: gate →
    // exact dedup → near-dup fingerprint/cluster OVER THE SURVIVORS (the
    // gram/edge/reach chain reads `ek`, not `documents`) — so the green
    // differential pins the reordered semantics, not just the output shape
    "q_pipeline_e2e" ->
      s"""WITH RECURSIVE
        |q AS (
        |  SELECT doc_id, lang, text,
        |    length(regexp_split_to_array(trim(text), ' +')) AS n_words,
        |    CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[a-z ]', '', 'g')) / cast(length(text) AS double) ELSE cast(0 AS double) END AS punct_ratio
        |  FROM documents),
        |qf AS (SELECT * FROM q WHERE n_words >= 20 AND punct_ratio < 0.2),
        |ek AS (
        |  SELECT * FROM (
        |    SELECT qf.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM qf) t
        |  WHERE rn = 1),
        |${Dedup.duckClusterCtesFrom("ek")},
        |drops AS (SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(r)),
        |cleaned AS (
        |  SELECT * FROM ek WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.doc_id = ek.doc_id))
        |SELECT lang, count(*) AS n_docs,
        |  cast(sum(n_words) AS bigint) AS total_ws_tokens,
        |  cast(sum(cast(round(cast(0.001 AS double) * n_words + cast(1.0 AS double) - punct_ratio, 6) AS decimal(18,6))) AS double) AS sum_quality
        |FROM cleaned GROUP BY 1 ORDER BY 1""".stripMargin,
    // provenance: expected rows derive from the predicates alone —
    // per-family membership (signatures need >= 3 normalized words;
    // posting/LM admission records every doc), the %10 admission split,
    // the %7 deletion split (see qProvenance)
    "q_provenance" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    length(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS nw
        |  FROM documents),
        |f AS (
        |  SELECT 'lm_model' AS family, doc_id, 1 AS member FROM n
        |  UNION ALL SELECT 'posting', doc_id, 1 FROM n
        |  UNION ALL SELECT 'signature', doc_id, CASE WHEN nw >= 3 THEN 1 ELSE 0 END FROM n)
        |SELECT family, doc_id, member AS in_store,
        |  CASE WHEN member = 1 THEN CAST(CASE WHEN doc_id % 10 = 5 THEN 7 ELSE -1 END AS BIGINT) END AS batch_id,
        |  CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS pending_retraction
        |FROM f ORDER BY family, doc_id""".stripMargin,
    "q_quality_funnel" ->
      s"""WITH ${TextOps.duckPartsCte},
        |${TextOps.duckRepetitionCtes},
        |${TextOps.duckLmCtes},
        |j AS (
        |  SELECT d.lang,
        |    CASE WHEN coalesce(rep.flagged, 0) = 1 THEN 1 ELSE 0 END AS fail_rep,
        |    CASE WHEN coalesce(rep.flagged, 0) = 0
        |           AND coalesce(lmd.avg_logp, 0.0) < ${TextOps.LmScoreMin}
        |         THEN 1 ELSE 0 END AS fail_lm
        |  FROM documents d
        |  LEFT JOIN rep ON d.doc_id = rep.doc_id
        |  LEFT JOIN lmd ON d.doc_id = lmd.doc_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(fail_rep) AS BIGINT) AS n_fail_repetition,
        |  CAST(sum(fail_lm) AS BIGINT) AS n_fail_lm,
        |  CAST(count(*) - sum(fail_rep) - sum(fail_lm) AS BIGINT) AS n_pass
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
