package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle._
import graft.state._

/** Store-GENERIC lifecycle semantics (SURVEY §5.3), written once over
  * the [[ControlStore]] seam and run on two commit publishers:
  * [[MwLifecycleFullSpec]] (local hard link) and
  * [[SignedHttpPutMwLifecycleSpec]] (SigV4-signed HTTP bucket, the
  * conditional-put path end to end). The other conditional-put bindings
  * reach MwStateStore only through TxnLog, and each passes its own
  * [[TxnLogBehaviors]] suite with the kill -9 torture
  * ([[TxnLogConditionalPutSpec]], [[TxnLogHttpPutSpec]]). Each binds the multi-writer MwStateStore with a small
  * checkpoint interval, so checkpoints fire MID-scenario and the read
  * paths cross checkpoint boundaries. Store-SPECIFIC semantics (racing
  * drivers, checkpoint/vacuum, time travel) live in [[MwLifecycleSpec]]
  * and [[MwStateStoreSpec]]. */
trait LifecycleBehaviors extends AnyFunSuite {

  protected lazy val spark = TestSpark.spark

  /** The store under test. */
  def makeStore(dir: String): ControlStore

  class FakeClock(var t: Instant) extends Clock {
    def now(): Instant = t
    def advance(secs: Long): Unit = t = t.plusSeconds(secs)
  }

  /** Sleeper that advances the fake clock and records every sleep. */
  class AdvancingSleeper(clock: FakeClock) extends Sleeper {
    val slept = ArrayBuffer.empty[Long]
    var onSleep: Long => Unit = _ => ()
    def sleep(seconds: Long): Unit = { slept += seconds; clock.advance(seconds); onSleep(seconds) }
  }

  protected def fixture(start: String = "2026-08-12T10:00:00Z") = {
    val dir = Files.createTempDirectory("graft-lifecycle").toString
    val store = makeStore(dir)
    val clock = new FakeClock(Instant.parse(start))
    val sleeper = new AdvancingSleeper(clock)
    val lc = new Lifecycle(store, clock, sleeper)
    (store, clock, sleeper, lc)
  }

  protected def master(id: Long, name: String, level: Long = 1,
      disabled: Option[Timestamp] = None) =
    BatchMaster(id, name, level, Some("TEST"), disabled)

  // ---- T2 DECODE matrix (body:271-279) -----------------------------------
  test("dependency DECODE matrix matches the reference truth table") {
    import DependencyMatrix.decode
    val types = Seq("MANDATORY", "OPTIONAL", "WAIT", "BOGUS")
    for (t <- types) {
      assert(decode(None, t) === 1, s"no parent run yet ($t) keeps waiting")
      assert(decode(Some("SUCCESS"), t) === 0)
      assert(decode(Some("RUNNING"), t) === 1)
      assert(decode(Some("WAITING"), t) === 1)
    }
    assert(decode(Some("FAILURE"), "MANDATORY") === 2)
    assert(decode(Some("FAILURE"), "OPTIONAL") === 0)
    assert(decode(Some("FAILURE"), "WAIT") === 1)
    assert(decode(Some("FAILURE"), "BOGUS") === 3)
  }

  // ---- E1 happy path + X2 transitions ------------------------------------
  test("startup/endup: RUNNING then SUCCESS with end_time; re-endup is a no-op") {
    val (store, _, _, lc) = fixture()
    store.putBatchMaster(Seq(master(10, "LOAD_A")))
    val ctx = lc.startup("load_a", Some(1), parameters = Some("p1")).toOption.get
    assert(ctx.runId === 1)
    assert(ctx.parameterString === "p1 Run_level=<1>")
    assert(lc.currentStatus(ctx.runKey) === Some(RunStatus.Running))

    assert(lc.endup(ctx, RunStatus.Success, Some(42), Some(0)))
    val row = store.monitorState.filter(org.apache.spark.sql.functions.col("run_key") === ctx.runKey).head()
    assert(row.getAs[String]("run_status") === RunStatus.Success)
    assert(row.getAs[Timestamp]("end_time") != null)
    assert(row.getAs[Long]("records_processed") === 42L)
    // a finished run cannot move again (reference UPDATE matches only
    // RUNNING/WAITING, body:465)
    assert(!lc.endup(ctx, RunStatus.Failure))
    assert(lc.currentStatus(ctx.runKey) === Some(RunStatus.Success))
  }

  test("run ids are monotonic per module per day and reset across days") {
    val (store, clock, _, lc) = fixture()
    store.putBatchMaster(Seq(master(11, "LOAD_B")))
    val r1 = lc.startup("LOAD_B", Some(1)).toOption.get
    lc.endup(r1)
    val r2 = lc.startup("LOAD_B", Some(1)).toOption.get
    lc.endup(r2)
    assert((r1.runId, r2.runId) === (1, 2))
    clock.advance(24 * 3600)
    val r3 = lc.startup("LOAD_B", Some(1)).toOption.get
    assert(r3.runId === 1, "new day restarts run-id numbering (body:179)")
  }

  test("duplicate run with same parameters is rejected as RE-RUN FAILURE") {
    val (store, _, _, lc) = fixture()
    store.putBatchMaster(Seq(master(12, "LOAD_C")))
    val running = lc.startup("LOAD_C", Some(1), parameters = Some("day=1")).toOption.get
    assert(lc.startup("LOAD_C", Some(1), parameters = Some("day=1")) === Left(DuplicateRun))
    // failure status is recorded as its own event (body:588-593)
    import org.apache.spark.sql.functions.col
    assert(store.monitorState.filter(col("run_status") === RunStatus.ReRunFailure).count() === 1)
    // different parameters may run concurrently (body:228-235 predicate)
    assert(lc.startup("LOAD_C", Some(1), parameters = Some("day=2")).isRight)
    // X3 shell-mode surface: error → 0 (body:595-600)
    assert(lc.startupShell("LOAD_C", Some(1), parameters = Some("day=1")) === 0L)
    lc.endup(running)
    assert(lc.startup("LOAD_C", Some(1), parameters = Some("day=1")).isRight,
      "after endup the same parameters start cleanly")
  }

  test("disabled batch and unknown batch produce typed failures + status events") {
    val (store, _, _, lc) = fixture()
    store.putBatchMaster(Seq(
      master(13, "LOAD_D", disabled = Some(Timestamp.from(Instant.parse("2026-01-01T00:00:00Z")))),
      master(14, "DUP", 1), master(15, "DUP", 1)))
    assert(lc.startup("LOAD_D", Some(1)) === Left(BatchDisabled))
    assert(lc.startup("NOPE", Some(1)) === Left(NoRecordBatchMaster))
    assert(lc.startup("DUP", Some(1)) === Left(TooManyRecordsBatchMaster))
    import org.apache.spark.sql.functions.col
    val statuses = store.monitorState.select("run_status").collect().map(_.getString(0)).toSet
    assert(statuses === Set(RunStatus.BatchDisabled, RunStatus.NoRecordBatchMaster,
      RunStatus.TooManyRecordsBatchMaster))
    // NO_RECORD event records the batch name in parameters (body:561-567)
    val p = store.monitorState.filter(col("run_status") === RunStatus.NoRecordBatchMaster)
      .head().getAs[String]("parameters")
    assert(p.startsWith("BatchName=<NOPE>"))
  }

  test("run_level omitted selects the MIN run_level for the name (body:140-143)") {
    val (store, _, _, lc) = fixture()
    store.putBatchMaster(Seq(master(16, "ML", 5), master(17, "ML", 2)))
    val ctx = lc.startup("ml").toOption.get
    assert(ctx.master.module_id === 17)
    assert(ctx.parameterString === " Run_level=<>")
  }

  // ---- T2 dependency wait -------------------------------------------------
  test("exclusive startup polls a MANDATORY parent until SUCCESS") {
    val (store, clock, sleeper, lc) = fixture()
    store.putBatchMaster(Seq(master(20, "PARENT"), master(21, "CHILD")))
    store.putDependencies(Seq(BatchDependency(20, 21, "MANDATORY")))
    // parent is RUNNING at child startup; flips to SUCCESS after 2 polls
    val parent = lc.startup("PARENT", Some(1)).toOption.get
    var polls = 0
    sleeper.onSleep = _ => { polls += 1; if (polls == 2) lc.endup(parent, RunStatus.Success) }
    val child = lc.startup("CHILD", Some(1), exclusiveRun = true).toOption.get
    assert(sleeper.slept.take(2) === Seq(120, 120), "poll interval is 120 s (body:325)")
    assert(lc.currentStatus(child.runKey) === Some(RunStatus.Running))
    // the WAITING event is retained in the log (event sourcing), while the
    // state view shows only RUNNING
    import org.apache.spark.sql.functions.col
    val evs = store.monitorEvents.filter(col("run_key") === child.runKey)
      .orderBy("event_seq").select("run_status").collect().map(_.getString(0)).toSeq
    assert(evs === Seq(RunStatus.Waiting, RunStatus.Running))
  }

  test("MANDATORY parent failure aborts; OPTIONAL proceeds; no-parent-run waits") {
    val (store, _, _, lc) = fixture()
    store.putBatchMaster(Seq(master(30, "P1"), master(31, "C1"), master(32, "C2")))
    val p = lc.startup("P1", Some(1)).toOption.get
    lc.endup(p, RunStatus.Failure)
    store.putDependencies(Seq(BatchDependency(30, 31, "MANDATORY")))
    assert(lc.startup("C1", Some(1), exclusiveRun = true) === Left(DependencyFailed))
    import org.apache.spark.sql.functions.col
    val fail = store.monitorState.filter(col("run_status") === RunStatus.DependencyFailure).head()
    assert(fail.getAs[Long]("records_processed") === 0L, "DEP FAILURE writes 0/0 counts (body:603-605)")

    store.putDependencies(Seq(BatchDependency(30, 32, "OPTIONAL")))
    assert(lc.startup("C2", Some(1), exclusiveRun = true).isRight,
      "OPTIONAL dependency ignores parent failure (DECODE body:277)")
  }

  test("dependencyCheck honors maxPolls when the parent never finishes") {
    val (store, _, sleeper, lc) = fixture()
    store.putBatchMaster(Seq(master(40, "P"), master(41, "C")))
    store.putDependencies(Seq(BatchDependency(40, 41, "WAIT")))
    val m = master(41, "C")
    val code = lc.dependencyCheck(m, "x Run_level=<1>", Timestamp.from(Instant.parse("2026-08-12T00:00:00Z")),
      maxPolls = 3)
    assert(code === 1, "still waiting after poll budget")
    assert(sleeper.slept.size === 3)
  }

  // ---- T3 resumption ------------------------------------------------------
  test("continueRun rehydrates parameters and run_date from the state view") {
    val (store, _, _, lc) = fixture()
    store.putBatchMaster(Seq(master(50, "RESUME")))
    val ctx = lc.startup("RESUME", Some(1), parameters = Some("f=9")).toOption.get
    val resumed = lc.continueRun("resume", Some(1), ctx.runId).toOption.get
    assert(resumed.runKey === ctx.runKey)
    assert(resumed.parameterString === ctx.parameterString)
    assert(resumed.runDate === ctx.runDate)
    assert(lc.endup(resumed, RunStatus.Success))
    assert(lc.continueRun("RESUME", Some(1), ctx.runId) === Left(NoActiveRun("RESUME", ctx.runId)),
      "an ended run cannot be continued")
  }

  // ---- U7 timers ----------------------------------------------------------
  test("timer capture/showElapsed: case-insensitive, last match wins") {
    val (store, clock, _, lc) = fixture()
    store.putBatchMaster(Seq(master(60, "TIMED")))
    val ctx = lc.startup("TIMED", Some(1)).toOption.get
    ctx.capture(Some("phase1"))
    clock.advance(3661)
    ctx.capture(Some("PHASE1"))          // later capture of the same context
    clock.advance(62)
    assert(ctx.showElapsed(context = Some("Phase1")) === Some("Total Time Taken 0:1:2"),
      "last matching capture wins (body:60-67)")
    assert(ctx.showElapsed(Some("Elapsed: "), Some("phase1")) === Some("Elapsed: 0:1:2"))
    assert(ctx.showElapsed(context = Some("nope")) === None)
    assert(ctx.showElapsed() === None, "NULL context never matches (UPPER(NULL))")
  }

  // ---- S9 envvar + U8 run command -----------------------------------------
  test("envvar store is event-sourced; run-command lookup errors to '0'") {
    val (store, _, _, _) = fixture()
    assert(store.getEnv("MISSING") === None)
    store.updEnv("BATCH_FLG_DBG", "Y")
    store.updEnv("BATCH_FLG_DBG", "N")
    assert(store.getEnv("BATCH_FLG_DBG") === Some("N"), "latest event wins")
    assert(store.getRunCommand("nope") === "0")
    store.putRunCommands(Seq(RunCommand("b1", "run.sh -x")))
    assert(store.getRunCommand("b1") === "run.sh -x")
    store.putRunCommands(Seq(RunCommand("b1", "dup.sh")))
    assert(store.getRunCommand("b1") === "0", "ambiguous lookup → '0' (WHEN OTHERS, body:1006-1008)")
  }

  test("session flags and control date come from the envvar store") {
    val (store, clock, _, lc) = fixture()
    assert(lc.sessionFlags() === SessionFlags(false, false, false))
    store.updEnv("BATCH_FLG_DBG", "Y")
    assert(lc.sessionFlags().debug)
    assert(lc.sessionControlDate() === Timestamp.from(Instant.parse("2026-08-12T00:00:00Z")),
      "no env → TRUNC(SYSDATE) fallback (body:414-418)")
    store.updEnv("BATCH_CONTROL_DATE", "05-Aug-2026")
    assert(lc.sessionControlDate() === Timestamp.from(Instant.parse("2026-08-05T00:00:00Z")))
  }

  // ---- T1 daily gate ------------------------------------------------------
  test("daily gate: env publish, 7-day purge, quantized sleep to 23:59:59+60") {
    val (store, clock, sleeper, lc) = fixture("2026-08-12T23:30:00Z")
    store.putBatchMaster(Seq(master(70, "DAILY000")))
    val now = Timestamp.from(Instant.parse("2026-08-12T23:30:00Z"))
    val old = Timestamp.from(Instant.parse("2026-08-01T00:00:00Z"))
    store.appendLog(BatchLogRec(old, "p", 1, "pkg", Some("B"), Some("stale")))
    store.appendLog(BatchLogRec(now, "p", 2, "pkg", Some("B"), Some("fresh")))

    assert(lc.dailyGate("12-Aug-2026", "DAILY") === 0)
    assert(store.getEnv("BATCH_CONTROL_DATE") === Some("12-Aug-2026"))
    assert(store.batchLog.count() === 1, "rows older than 7 days purged (body:926-939)")
    // 23:30:00 → 23:59:59 is 1799 s, +60 = 1859: the reference's loop
    // (body:952-959) takes a 600 s quantum whenever remaining > 600, so
    // three quanta then the 59 s tail.
    assert(sleeper.slept.toSeq === Seq(600, 600, 600, 59))
    import org.apache.spark.sql.functions.col
    val st = store.monitorState.filter(col("module_id") === 70).head()
    assert(st.getAs[String]("run_status") === RunStatus.Success)
  }

  test("daily gate rejects a malformed run date and records FAILURE") {
    val (store, _, sleeper, lc) = fixture()
    store.putBatchMaster(Seq(master(71, "DAILY000")))
    assert(lc.dailyGate("2026-08-12", "DAILY") === 1, "wrong format (body:906-913)")
    import org.apache.spark.sql.functions.col
    assert(store.monitorState.filter(col("module_id") === 71).head()
      .getAs[String]("run_status") === RunStatus.Failure)
    assert(sleeper.slept.isEmpty, "no sleeping on the failure path")
  }

  test("daily gate with par_flag skips publish/purge and sleeps the extra minutes") {
    val (store, clock, sleeper, lc) = fixture("2026-08-12T23:59:30Z")
    store.putBatchMaster(Seq(master(72, "DAILY000")))
    assert(lc.dailyGate("12-Aug-2026", "DAILY", flagMinutes = Some(2)) === 0)
    assert(store.getEnv("BATCH_CONTROL_DATE") === None, "flagged run skips env publish (body:917)")
    // 23:59:30 → +29 s to target +60 = 89 s, then 2 extra minutes
    assert(sleeper.slept.toSeq === Seq(89, 120))
  }

  test("forms mode bypasses all control-table work; endup-with-log records pairs") {
    val (store, _, _, lc) = fixture()
    store.putBatchMaster(Seq(master(90, "FORMS_B")))
    // called_by_forms='Y': no monitor events, run id 0 (body:490-542)
    val formsCtx = lc.startup("FORMS_B", Some(1), calledByForms = true).toOption.get
    assert(formsCtx.runId === 0L)
    assert(store.monitorEvents.count() === 0, "forms mode writes nothing")
    assert(!lc.endup(formsCtx), "forms endup is a no-op (body:653, 678)")
    assert(store.monitorEvents.count() === 0)
    // forms endup-with-log writes neither monitor events nor log rows
    assert(!lc.endupWithLog(formsCtx, RunStatus.Success, None, None, Seq("x" -> 1L)))
    assert(store.batchLog.count() === 0)
    // third endup overload (spec:55-60): desc/value pairs land in batch_log
    val ctx = lc.startup("FORMS_B", Some(1)).toOption.get
    assert(lc.endupWithLog(ctx, RunStatus.Success, Some(10), Some(0),
      Seq("rows read" -> 10L, "rows skipped" -> 2L)))
    val logs = store.batchLog.orderBy("statement_num").collect()
    assert(logs.map(_.getAs[String]("message")).toSeq ===
      Seq(Some("rows read:    10"), Some("rows skipped:    2")).map(_.get))
  }

  // ---- end-to-end: lifecycle orchestrating a real query -------------------
  test("integration: dependency-chained batches run real queries and record counts") {
    val (store, _, sleeper, lc) = fixture()
    store.putBatchMaster(Seq(master(80, "EXTRACT"), master(81, "AGGREGATE")))
    store.putDependencies(Seq(BatchDependency(80, 81, "MANDATORY")))

    // parent batch: runs the scan-project workload, records its count
    val parent = lc.startup("EXTRACT", Some(1), parameters = Some("sf=0.001")).toOption.get
    parent.capture(Some("main"))
    val extracted = graft.operators.CoreOps.qScanProject(spark, TestSpark.sfDir).count()
    assert(lc.endup(parent, RunStatus.Success, Some(extracted), Some(0)))
    assert(parent.showElapsed(Some("EXTRACT took "), Some("main")).isDefined)

    // child waits on the parent (already SUCCESS → no polling), runs its own query
    val child = lc.startup("AGGREGATE", Some(1), exclusiveRun = true).toOption.get
    assert(sleeper.slept.isEmpty, "satisfied dependency must not poll")
    val aggregated = graft.operators.CoreOps.qCount(spark, TestSpark.sfDir).count()
    assert(lc.endup(child, RunStatus.Success, Some(aggregated), Some(0)))

    // the state view shows both runs finished with their record counts
    import org.apache.spark.sql.functions.col
    val state = store.monitorState.orderBy("module_id").collect()
    assert(state.map(_.getAs[String]("run_status")).toSeq ===
      Seq(RunStatus.Success, RunStatus.Success))
    assert(state.map(_.getAs[Long]("records_processed")).toSeq ===
      Seq(extracted, aggregated))
  }

  // ---- orchestration capstone: the dependency DAG drives registered queries
  test("orchestrator: a 3-module DAG runs registered queries end-to-end; a failed module routes dependents to DEPENDENCY FAILURE") {
    val (store, _, sleeper, lc) = fixture()
    store.putBatchMaster(Seq(master(90, "ORCH_EXTRACT"), master(91, "ORCH_AGG"),
      master(92, "ORCH_REPORT"), master(93, "ORCH_BAD"), master(94, "ORCH_DOWNSTREAM")))
    store.putDependencies(Seq(
      BatchDependency(90, 91, "MANDATORY"),
      BatchDependency(91, 92, "MANDATORY"),
      BatchDependency(93, 94, "MANDATORY")))
    // the run command IS a registered query — the store's indirection
    // (func_get_run_command) re-pointed at the engine instead of a shell
    store.putRunCommands(Seq(
      RunCommand("ORCH_EXTRACT", "graft.query q_scan_project"),
      RunCommand("ORCH_AGG", "graft.query q_count"),
      RunCommand("ORCH_REPORT", "graft.query q_agg_max"),
      RunCommand("ORCH_BAD", "graft.query q_no_such_query")))
    val orch = new Orchestrator(spark, lc, TestSpark.sfDir, SparkEntry.queries)

    // happy chain: three modules, each gated on its parent's SUCCESS
    val outcomes = orch.runChain(Seq("ORCH_EXTRACT", "ORCH_AGG", "ORCH_REPORT"),
      runLevel = Some(1))
    val completed = outcomes.collect { case (_, c: Orchestrator.Completed) => c }
    assert(completed.map(_.query) === Seq("q_scan_project", "q_count", "q_agg_max"),
      s"all three modules must complete their queries, got $outcomes")
    assert(completed.forall(_.records > 0L), "registered queries return rows at this SF")
    assert(sleeper.slept.isEmpty, "satisfied dependencies must not poll")

    // failure branch: an unresolvable run command goes RUNNING and
    // closes FAILURE (no phantom active run)...
    val bad = orch.runModule("ORCH_BAD", runLevel = Some(1))
    assert(bad.isInstanceOf[Orchestrator.Failed], s"got $bad")
    // ...and its MANDATORY dependent startups into the DEPENDENCY
    // FAILURE path — refused by the DECODE matrix, not by this driver
    val down = orch.runModule("ORCH_DOWNSTREAM", runLevel = Some(1))
    assert(down === Orchestrator.NotRun(DependencyFailed), s"got $down")

    // the monitor store is the single pane of glass: every run closed,
    // with the right terminal status and the real record counts
    val state = store.monitorState.orderBy("module_id").collect()
      .map(r => (r.getAs[Long]("module_id"), r.getAs[String]("run_status"),
        r.getAs[Long]("records_processed")))
    assert(state.map(t => (t._1, t._2)).toSeq === Seq(
      90L -> RunStatus.Success, 91L -> RunStatus.Success, 92L -> RunStatus.Success,
      93L -> RunStatus.Failure, 94L -> RunStatus.DependencyFailure))
    assert(state.take(3).map(_._3).toSeq === completed.map(_.records),
      "endup must record each query's count in the monitor")
    assert(state.drop(3).map(_._3).toSeq === Seq(0L, 0L),
      "failed and refused runs close with zero records")
  }

  test("orchestrator: a child module WAIT-polls a still-running parent and proceeds on its SUCCESS") {
    val (store, _, sleeper, lc) = fixture()
    store.putBatchMaster(Seq(master(95, "ORCH_SLOW"), master(96, "ORCH_AFTER")))
    store.putDependencies(Seq(BatchDependency(95, 96, "MANDATORY")))
    store.putRunCommands(Seq(RunCommand("ORCH_AFTER", "graft.query q_count")))
    val orch = new Orchestrator(spark, lc, TestSpark.sfDir, SparkEntry.queries)
    // parent goes RUNNING by hand (an external driver still mid-flight —
    // the reference's cron-estate shape: drivers coordinate only through
    // the store), and the child's startup poll loop observes its endup
    // between quanta via the fake sleeper
    val parent = lc.startup("ORCH_SLOW", Some(1)).toOption.get
    var polls = 0
    sleeper.onSleep = _ => {
      polls += 1
      if (polls == 2) lc.endup(parent, RunStatus.Success, Some(5L), Some(0L))
    }
    val out = orch.runModule("ORCH_AFTER", runLevel = Some(1))
    assert(out.isInstanceOf[Orchestrator.Completed], s"got $out")
    assert(polls >= 2, "the child must have genuinely polled the RUNNING parent")
    val state = store.monitorState.orderBy("module_id").collect()
      .map(r => (r.getAs[Long]("module_id"), r.getAs[String]("run_status")))
    assert(state.toSeq === Seq(95L -> RunStatus.Success, 96L -> RunStatus.Success))
  }

  // ---- parameter prefix (body:290-301) ------------------------------------
  test("paramPrefix mirrors the SUBSTR/INSTR semantics incl. NULL edges") {
    val (_, _, _, lc) = fixture()
    assert(lc.paramPrefix("abc Run_level=<3>") === Some("ABC"))
    assert(lc.paramPrefix("Run_level=<3>") === None, "INSTR=1 → negative SUBSTR length → NULL")
    assert(lc.paramPrefix("no marker") === None, "INSTR=0 → NULL")
  }

  // ---- orchestrated failure injection (r17 verdict item 8) ----------------
  test("orchestrator: a compaction module killed mid-swap fails the DAG leg; the re-run recovers and completes idempotently") {
    // The kill -9 discipline applied at ORCHESTRATION level: the
    // compaction module dies at the worst store moment (after the
    // backup-move, before the swap-in — live dir gone, full content in
    // .bak), its MANDATORY dependent routes to DEPENDENCY FAILURE via
    // the DECODE matrix, and the restarted DAG's compaction RECOVERS
    // the store and completes with the read face intact — the
    // crash-consistency contract and the dependency matrix proven as
    // one scenario, on every commit publisher.
    val (store, _, _, lc) = fixture()
    val sig = Files.createTempDirectory("graft-orch-kill").toString + "/sig"
    val docs = graft.sources.Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
    graft.operators.Dedup.writeSignatures(graft.operators.Dedup.signaturesOf(docs), sig)
    def face(): (Long, Long) = {
      val df = spark.read.parquet(sig)
      (df.count(), df.select("doc_id").distinct().count())
    }
    val before = face()
    assert(before._1 > 0L)

    store.putBatchMaster(Seq(master(97, "ORCH_INGEST"), master(98, "ORCH_COMPACT"),
      master(99, "ORCH_AUDIT")))
    store.putDependencies(Seq(
      BatchDependency(97, 98, "MANDATORY"),
      BatchDependency(98, 99, "MANDATORY")))
    store.putRunCommands(Seq(
      RunCommand("ORCH_INGEST", "graft.query q_count"),
      RunCommand("ORCH_COMPACT", "graft.query maint_compact_signatures"),
      RunCommand("ORCH_AUDIT", "graft.query q_agg_max")))
    val compactRegistry = graft.lifecycle.Maintenance.moduleRegistry(
      graft.lifecycle.Maintenance.StoreLayout(signatureStore = Some(sig)))

    // run 1: the module is "killed" mid-swap — the registry entry
    // plants EXACTLY the on-disk state a kill -9 between backup-move
    // and swap-in leaves, then dies
    val killed: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => {
        val fs = new org.apache.hadoop.fs.Path(sig)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        assert(fs.rename(new org.apache.hadoop.fs.Path(sig),
          new org.apache.hadoop.fs.Path(sig + ".bak")), "backup-move must apply")
        sys.error("kill -9 between backup-move and swap-in")
      }
    val orch1 = new Orchestrator(spark, lc, TestSpark.sfDir,
      SparkEntry.queries ++ Map("maint_compact_signatures" -> killed))
    val out1 = orch1.runChain(Seq("ORCH_INGEST", "ORCH_COMPACT", "ORCH_AUDIT"),
      runLevel = Some(1))
    assert(out1(0)._2.isInstanceOf[Orchestrator.Completed], s"got ${out1(0)}")
    assert(out1(1)._2.isInstanceOf[Orchestrator.Failed], s"got ${out1(1)}")
    assert(out1(2)._2 === Orchestrator.NotRun(DependencyFailed),
      "the DECODE matrix must refuse the dependent of the killed compaction")
    val mid = store.monitorState.orderBy("module_id").collect()
      .map(r => (r.getAs[Long]("module_id"), r.getAs[String]("run_status")))
    assert(mid.toSeq === Seq(97L -> RunStatus.Success, 98L -> RunStatus.Failure,
      99L -> RunStatus.DependencyFailure))

    // a real kill -9 dies HOLDING the store's writer claim — plant the
    // dead holder's leftover lock (directly on the object-store seam,
    // the state a crashed JVM leaves: no finally ran)
    val staleLock = java.nio.file.Paths.get(
      graft.sources.StoreLock.lockPath(sig))
    assert(graft.sources.StoreLock.objectStore.putIfAbsent(staleLock,
      "pid=999999 op=compact thread=dead ts=2026-08-15T00:00:00Z nonce=x".getBytes("UTF-8")))

    // run 2 (the restarted nightly): the REAL compaction module —
    // but the stale claim must FAIL it LOUDLY first, naming the dead
    // holder; takeover without verification would be the silent
    // interleaving the lock exists to prevent
    val orch2 = new Orchestrator(spark, lc, TestSpark.sfDir,
      SparkEntry.queries ++ compactRegistry)
    val blocked = orch2.runModule("ORCH_COMPACT", runLevel = Some(1))
    assert(blocked.isInstanceOf[Orchestrator.Failed] &&
      blocked.asInstanceOf[Orchestrator.Failed].reason.contains("pid=999999"),
      s"the restart must refuse the stale claim naming the holder, got $blocked")
    // the operator runbook: verify pid 999999 is dead, then break
    graft.sources.StoreLock.forceBreak(sig)
    val out2 = orch2.runChain(Seq("ORCH_INGEST", "ORCH_COMPACT", "ORCH_AUDIT"),
      runLevel = Some(1))
    assert(out2.forall(_._2.isInstanceOf[Orchestrator.Completed]),
      s"the restarted DAG must complete every module, got $out2")
    assert(face() === before, "the recovered+compacted store must answer the pre-crash face")
    val fs = new org.apache.hadoop.fs.Path(sig)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sig + ".bak")),
      "no crash residue may survive the recovered compaction")
    // run 3: replaying the whole chain once more is a no-op fold — the
    // idempotence half of the at-least-once orchestration contract
    val out3 = orch2.runChain(Seq("ORCH_INGEST", "ORCH_COMPACT", "ORCH_AUDIT"),
      runLevel = Some(1))
    assert(out3.forall(_._2.isInstanceOf[Orchestrator.Completed]), s"got $out3")
    assert(face() === before, "the replayed compaction must be idempotent")
  }
}
