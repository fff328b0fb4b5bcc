package graft.lifecycle

import org.apache.spark.sql.SparkSession

/** The engine's own upkeep as a nightly maintenance DAG: each data
  * store's compaction is an [[Orchestrator]] module, so it runs inside
  * the reference's batch-BODY envelope (`startup` → work → `endup` with
  * counts, pkg_batch_util_body.sql:472-627) behind the dependency DECODE
  * matrix like any other batch estate a deployment schedules behind
  * [[Lifecycle.dailyGate]].
  *
  * One failing store does not abort the sweep: its module closes
  * FAILURE in the monitor view, only its MANDATORY dependents are held
  * back, and the Orchestrator carries on with the rest of the chain —
  * so the monitor view alone says which store is not healthy. The
  * control store's own upkeep is not a module here: `MwStateStore`
  * checkpoints itself every `checkpointEvery` commits, and its
  * `checkpoint()` / `vacuum()` run from the caller's schedule.
  *
  * Scale: each module is one of the stores' own maintenance entry
  * points (watermark-driven, crash-safe, replay-idempotent compactions,
  * all designed for their 100 TB layouts); the envelope adds only
  * control-plane work.
  */
object Maintenance {

  /** Where a deployment's stores live; `None` skips the module. Fold
    * watermarks follow each store's replay contract (batches strictly
    * below the id are safe to fold — the caller's checkpoint/commit
    * bookkeeping decides the value). */
  final case class StoreLayout(
      searchIndex: Option[(String, Long)] = None,   // (path, foldBelow)
      lmModel: Option[(String, Long)] = None,       // (path, foldBelow)
      // a count store like the LM (graft.sources.CountStore): retraction
      // absorption waits for the fold that covers every replay-protected
      // batch
      nbModel: Option[(String, Long)] = None,       // (path, foldBelow)
      signatureStore: Option[String] = None,
      annIndex: Option[String] = None,
      ivfIndex: Option[String] = None,
      // replay watermark for the three stores above (their compactions
      // fold scoped batches below it, which is what lets a pending
      // RETRACTION physically complete — Dedup.retractSignatures). One
      // value, not per-store: the protecting checkpoint is the ingest
      // stream's, shared by whatever stores it feeds; 0 = fold nothing
      // scoped (always safe).
      retractionFoldBelow: Long = 0L)

  /** The maintenance sweep as ORCHESTRATOR MODULES: one registry entry
    * per data store, so
    * operations point each module's run command at
    * `graft.query maint_compact_<store>` and sequence the DAG through
    * the dependency DECODE matrix (compactions behind the ingest
    * module, exactly like any other batch estate), instead of one
    * monolithic task batch. Each entry runs the store's compaction and
    * returns the POST-COMPACTION store frame, so the orchestrator's
    * endup records the surviving row count — the monitor view then
    * shows per-store fold volume, not just a task tally (the
    * rows-folded-as-record-count convention the reference's loaders
    * used for their insert counts).
    *
    * Fold watermarks: when `ingestCheckpoint` names the ingest stream's
    * checkpoint dir, every foldBelow is DERIVED from it
    * ([[graft.streaming.EventStreams.committedWatermark]] + 1 — a batch
    * with a durable commit can never be replayed), so the orchestrated
    * sweep needs no human in the watermark loop; without one, the
    * layout's asserted values hold (0 = fold nothing scoped, always
    * safe). Model stores read back through
    * [[graft.sources.CountStore.storedCounts]]: a fileless or
    * never-written layout reports 0 rows instead of failing the module
    * and cascading FAILURE through its dependents. */
  def moduleRegistry(layout: StoreLayout, ingestCheckpoint: Option[String] = None)
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import graft.operators.{Dedup, Search, Similarity, TextOps}
    def wm(s: SparkSession, asserted: Long): Long = ingestCheckpoint
      .map(cp => graft.streaming.EventStreams.committedWatermark(s, cp) + 1L)
      .getOrElse(asserted)
    // Post-compaction readback for the stores WITHOUT pinned count
    // schemas: an absent store or an all-rows-folded fileless layout is
    // a SUCCESSFUL compaction with 0 survivors — report a 0-row frame,
    // never die on schema inference and fail the module (which would
    // cascade FAILURE into every MANDATORY dependent of the DAG).
    // two layers: hasVisibleData rules out absent/residue-only dirs
    // cheaply, and the catch covers layouts the top-level listing
    // cannot see through (a visible shard dir whose every batch dir
    // folded away leaves files NOWHERE — schema inference dies where
    // an explicit schema would read 0)
    def countFrame(s: SparkSession, p: String): org.apache.spark.sql.DataFrame =
      if (!graft.sources.Stores.hasVisibleData(s, p)) s.range(0).toDF("rows")
      else try s.read.parquet(p)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.toLowerCase(java.util.Locale.ROOT)
                .contains("unable to infer schema") =>
          s.range(0).toDF("rows")
      }
    Seq(
      layout.searchIndex.map { case (p, w) => "maint_compact_search" ->
        ((s: SparkSession, _: String) => {
          Search.compactSearchIndex(s, p, wm(s, w)); countFrame(s, p) }) },
      layout.lmModel.map { case (p, w) => "maint_compact_lm" ->
        ((s: SparkSession, _: String) => {
          TextOps.compactLmModel(s, p, wm(s, w))
          TextOps.lmStore.storedCounts(s, p) }) },
      layout.nbModel.map { case (p, w) => "maint_compact_nb" ->
        ((s: SparkSession, _: String) => {
          TextOps.compactNbModel(s, p, wm(s, w))
          TextOps.nbStore.storedCounts(s, p) }) },
      layout.signatureStore.map(p => "maint_compact_signatures" ->
        ((s: SparkSession, _: String) => {
          Dedup.compactSignatures(s, p, wm(s, layout.retractionFoldBelow))
          countFrame(s, p) })),
      layout.annIndex.map(p => "maint_compact_ann" ->
        ((s: SparkSession, _: String) => {
          Similarity.compactAnnIndex(s, p, wm(s, layout.retractionFoldBelow))
          countFrame(s, p) })),
      layout.ivfIndex.map(p => "maint_compact_ivf" ->
        ((s: SparkSession, _: String) => {
          Similarity.compactIvfIndex(s, p, wm(s, layout.retractionFoldBelow))
          countFrame(s, p) })),
    ).flatten.toMap
  }
}
