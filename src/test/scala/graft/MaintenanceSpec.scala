package graft

import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle._
import graft.state._

/** The maintenance DAG (lifecycle/Maintenance): each store's compaction
  * as an Orchestrator module inside the reference's startup → work →
  * endup envelope, proven over the control store on local and object
  * storage, with REAL data-plane stores being compacted mid-run. */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private class FixedClock(t: Instant) extends Clock { def now(): Instant = t }

  private def fixture(store: ControlStore): Lifecycle =
    new Lifecycle(store, new FixedClock(Instant.parse("2026-08-12T02:00:00Z")), SystemSleeper)

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "pack my box with five dozen liquor jugs for the long trip"),
    (3L, "sphinx of black quartz judge my vow before the winter ends")
  ).toDF("doc_id", "text")

  test("module readback reports 0 for an absent or all-folded store instead of failing the module") {
    // a compaction that folds/purges EVERY row (or a layout naming a
    // store that was never written) is a SUCCESSFUL sweep with 0
    // survivors — the module's record count must say so, not die on
    // parquet schema inference and cascade FAILURE into every MANDATORY
    // dependent of the DAG
    val base = Files.createTempDirectory("graft-maint-empty").toString
    val layout = Maintenance.StoreLayout(
      signatureStore = Some(base + "/never-written"),
      annIndex = Some(base + "/ann"),
      // the model stores' pinned schemas skip inference but NOT path
      // resolution — a configured-before-first-train path must read 0,
      // not die on PATH_NOT_FOUND
      lmModel = Some((base + "/lm-never-written", 0L)),
      nbModel = Some((base + "/nb-never-written", 0L)))
    // an all-retracted ANN store: bootstrap, retract everything, so the
    // module's compaction physically purges every row
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 50)
    graft.operators.Similarity.writeAnnIndexFrom(spark, vecs, base + "/ann")
    graft.operators.Similarity.retractVectors(spark, base + "/ann",
      vecs.select("vec_id").collect().map(_.getLong(0)).toSeq)
    val registry = Maintenance.moduleRegistry(layout)
    assert(registry("maint_compact_signatures")(spark, "").count() === 0L,
      "an absent store must read back as 0 survivors")
    assert(registry("maint_compact_ann")(spark, "").count() === 0L,
      "an all-purged store must read back as 0 survivors")
    assert(registry("maint_compact_lm")(spark, "").count() === 0L,
      "a never-written LM model store must read back as 0 survivors")
    assert(registry("maint_compact_nb")(spark, "").count() === 0L,
      "a never-written NB model store must read back as 0 survivors")
    // a VISIBLE but file-less layout (a shard dir whose every batch dir
    // folded away) defeats the top-level listing AND schema inference —
    // still a successful sweep with 0 survivors
    Files.createDirectories(java.nio.file.Paths.get(base, "hollow", "shard=0"))
    val hollow = Maintenance.moduleRegistry(
      Maintenance.StoreLayout(signatureStore = Some(base + "/hollow")))
    assert(hollow("maint_compact_signatures")(spark, "").count() === 0L,
      "an all-folded hollow layout must read back as 0 survivors")
  }

  test("orchestrated maintenance DAG: compaction modules behind the DECODE matrix, watermark from the checkpoint, both control stores") {
    // the DAG face of the sweep: each store's compaction is an
    // Orchestrator MODULE (run-command indirection + dependency gate),
    // its endup records the post-compaction row count, and the fold
    // watermark is DERIVED from the ingest stream's checkpoint commits
    // — no human-asserted foldBelow anywhere in the chain
    def drive(store: ControlStore): Unit = {
      store.putBatchMaster(Seq(BatchMaster(200, "MAINT_INGEST", 1, Some("OPS"), None),
        BatchMaster(201, "MAINT_SIG", 1, Some("OPS"), None),
        BatchMaster(202, "MAINT_SEARCH", 1, Some("OPS"), None)))
      store.putDependencies(Seq(BatchDependency(200, 201, "MANDATORY"),
        BatchDependency(200, 202, "MANDATORY")))
      store.putRunCommands(Seq(RunCommand("MAINT_INGEST", "graft.query q_count"),
        RunCommand("MAINT_SIG", "graft.query maint_compact_signatures"),
        RunCommand("MAINT_SEARCH", "graft.query maint_compact_search")))
      val lc = fixture(store)

      val base = Files.createTempDirectory("graft-maint-dag").toString
      val sig = base + "/signatures"
      val idx = base + "/postings"
      val late = Seq((4L, "a second batch of text rides in as its own partition"))
        .toDF("doc_id", "text")
      graft.operators.Dedup.writeSignatures(
        graft.operators.Dedup.signaturesOf(corpus), sig)
      graft.operators.Search.writeSearchIndexFrom(spark, corpus, idx)
      Pipeline2.ingest(spark, sig, idx, late)
      graft.operators.Dedup.retractSignatures(spark, sig, Seq(1L))
      val probeBefore = SearchProbe.scores(spark, idx)
      // the ingest stream's ledger: batches 0..2 durably committed →
      // derived foldBelow 3 covers the scoped batch 2 and lets the
      // pending retraction physically complete
      val ckpt = base + "/ckpt"
      Files.createDirectories(java.nio.file.Paths.get(ckpt, "commits"))
      Seq("0", "1", "2").foreach(n =>
        Files.write(java.nio.file.Paths.get(ckpt, "commits", n), "v1".getBytes))
      assert(graft.streaming.EventStreams.committedWatermark(spark, ckpt) === 2L)

      val registry = SparkEntry.queries ++ Maintenance.moduleRegistry(
        Maintenance.StoreLayout(searchIndex = Some((idx, 0L)), signatureStore = Some(sig)),
        ingestCheckpoint = Some(ckpt))
      val orch = new Orchestrator(spark, lc, TestSpark.sfDir, registry)
      val outcomes = orch.runChain(Seq("MAINT_INGEST", "MAINT_SIG", "MAINT_SEARCH"),
        runLevel = Some(1))
      val completed = outcomes.collect { case (_, c: Orchestrator.Completed) => c }
      assert(completed.map(_.query) ===
        Seq("q_count", "maint_compact_signatures", "maint_compact_search"),
        s"all three modules must complete, got $outcomes")
      // the derived watermark let the fold absorb the retraction...
      assert(!graft.sources.Stores.hasTombstones(spark, sig),
        "the checkpoint-derived watermark must complete the physical purge")
      assert(spark.read.parquet(sig).filter(
        org.apache.spark.sql.functions.col("doc_id") === 1L).count() === 0L)
      // ...compaction preserved search semantics...
      assert(SearchProbe.scores(spark, idx) === probeBefore)
      // ...and the monitor records the post-compaction row counts
      val state = store.monitorState.orderBy("module_id").collect()
        .map(r => (r.getAs[Long]("module_id"), r.getAs[String]("run_status"),
          r.getAs[Long]("records_processed")))
      assert(state.map(t => (t._1, t._2)).toSeq === Seq(200L -> RunStatus.Success,
        201L -> RunStatus.Success, 202L -> RunStatus.Success))
      assert(state(1)._3 === spark.read.parquet(sig).count() &&
        state(2)._3 === spark.read.parquet(idx).count(),
        "endup must record each store's surviving rows")
    }
    // the control store on local storage (hard-link commits) and on an
    // object store (conditional-put commits)
    drive(new MwStateStore(spark, Files.createTempDirectory("graft-maint5").toString))
    drive(new MwStateStore(spark, Files.createTempDirectory("graft-maint6").toString,
      publisher = TxnLog.ConditionalPutFs))
  }

  /** Tiny helper: land a scoped batch in both data stores the way the ingest
    * stream does (batch-scoped partitions under one id). */
  private object Pipeline2 {
    def ingest(s: org.apache.spark.sql.SparkSession, sig: String, idx: String,
        docs: org.apache.spark.sql.DataFrame): Unit = {
      graft.operators.Dedup.appendSignaturesBatch(s,
        graft.operators.Dedup.signaturesOf(docs), sig, 2L)
      graft.operators.Search.appendSearchIndexBatch(s, docs, idx, batchId = 2L)
    }
  }
}
