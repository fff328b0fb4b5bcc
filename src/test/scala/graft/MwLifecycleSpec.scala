package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle._
import graft.state._

/** The full [[LifecycleBehaviors]] matrix on the MULTI-writer store —
  * every store-generic lifecycle semantic re-proven over optimistic
  * commits, with `checkpointEvery = 7` so checkpoints fire mid-scenario
  * and reads constantly cross checkpoint/tail boundaries. */
class MwLifecycleFullSpec extends LifecycleBehaviors {
  def makeStore(dir: String): graft.state.ControlStore =
    new MwStateStore(spark, dir, checkpointEvery = 7)
}

/** The batch lifecycle over the MULTI-WRITER store: the same E1/E2/X1-X3
  * semantics LifecycleSpec proves on the single-writer store, running as
  * genuinely concurrent drivers — each its own Lifecycle over its own
  * MwStateStore instance on one shared directory. The single-writer spec
  * proves a second writer FAILS; this spec proves a second writer
  * WORKS, with run ids, seqs, duplicate gates, and status transitions
  * staying correct under the race. */
class MwLifecycleSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  private class FakeClock(var t: Instant) extends Clock {
    def now(): Instant = t
  }

  private def master(id: Long, name: String, level: Long = 1) =
    BatchMaster(id, name, level, Some("TEST"), None)

  private def fixture(start: String = "2026-08-12T10:00:00Z") = {
    val dir = Files.createTempDirectory("graft-mwlc").toString
    val store = new MwStateStore(spark, dir)
    store.putBatchMaster(Seq(master(1, "etl_load"), master(2, "etl_report")))
    (dir, store, Instant.parse(start))
  }

  private def driver(dir: String, at: Instant): Lifecycle =
    new Lifecycle(new MwStateStore(spark, dir), new FakeClock(at))

  test("one driver end-to-end: startup → endup over the multi-writer store") {
    val (dir, store, at) = fixture()
    val lc = driver(dir, at)
    val ctx = lc.startup("etl_load").fold(
      e => fail(s"startup failed: $e"), identity)
    assert(ctx.runId === 1L)
    assert(lc.currentStatus(ctx.runKey) === Some(RunStatus.Running))
    assert(lc.endup(ctx, RunStatus.Success, Some(100L), Some(0L)))
    assert(lc.currentStatus(ctx.runKey) === Some(RunStatus.Success))
    assert(!lc.endup(ctx), "a second endup must be a no-op (run not active)")
    val st = store.monitorState.collect()
    assert(st.length === 1 && st(0).getAs[String]("run_status") === RunStatus.Success)
  }

  test("6 racing drivers starting one module get unique contiguous run ids") {
    val (dir, _, at) = fixture()
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 6).map { d =>
        // distinct params so the duplicate-run gate admits all of them
        Future(driver(dir, at).startup("etl_load", parameters = Some(s"p$d")))
      }
      val ctxs = Await.result(Future.sequence(futures), Duration.Inf)
        .map(_.fold(e => fail(s"racing startup failed: $e"), identity))
      assert(ctxs.map(_.runId).sorted === (1L to 6L),
        "NVL(MAX)+1 must stay contiguous across concurrent drivers")
      assert(ctxs.map(_.runKey).distinct.length === 6, "run keys must not collide")
    } finally pool.shutdown()
  }

  test("RACING same-params startups: exactly one goes RUNNING, the rest get DuplicateRun") {
    // the gate must hold INSIDE the transaction, not as check-then-act:
    // all drivers pass the pre-check simultaneously (no RUNNING run
    // exists yet), so only the transactional admit can serialize them
    val (dir, store, at) = fixture()
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(Future.sequence((1 to 6).map { _ =>
        Future(driver(dir, at).startup("etl_load", parameters = Some("day=1")))
      }), Duration.Inf)
      val winners = results.collect { case Right(ctx) => ctx }
      val losers = results.collect { case Left(e) => e }
      assert(winners.length === 1,
        s"exactly one same-params startup may go RUNNING, got ${winners.length}")
      assert(losers.forall(_ == DuplicateRun), s"losers must see DuplicateRun: $losers")
      val running = store.monitorState.filter(
        org.apache.spark.sql.functions.col("run_status") === RunStatus.Running)
      assert(running.count() === 1L, "state view must show ONE RUNNING run")
    } finally pool.shutdown()
  }

  test("RACING endups: exactly one terminal transition lands, later one is a no-op") {
    val (dir, store, at) = fixture()
    val ctx = driver(dir, at).startup("etl_load").toOption.get
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(Future.sequence(Seq(
        Future(driver(dir, at).endup(ctx, RunStatus.Success, Some(10L), Some(0L))),
        Future(driver(dir, at).endup(ctx, RunStatus.Failure, Some(0L), Some(5L))))),
        Duration.Inf)
      assert(results.count(identity) === 1,
        s"exactly one racing endup may land, got $results")
      // the landed status is whichever won — but there is only ONE
      // terminal event, so a racing Success can never MASK a Failure
      val terminal = store.monitorEvents.filter(
        !org.apache.spark.sql.functions.col("run_status")
          .isin(RunStatus.Waiting, RunStatus.Running)).collect()
      assert(terminal.length === 1, "one terminal event exactly")
    } finally pool.shutdown()
  }

  test("duplicate-run gate holds across drivers: same params rejected, run resumable") {
    val (dir, _, at) = fixture()
    val lc1 = driver(dir, at)
    val ctx = lc1.startup("etl_load", parameters = Some("day=1")).toOption.get
    // a SECOND driver with the same parameters sees the active run
    val lc2 = driver(dir, at.plusSeconds(60))
    lc2.startup("etl_load", parameters = Some("day=1")) match {
      case Left(DuplicateRun) => // the reference's RE-RUN FAILURE path
      case other => fail(s"expected DuplicateRun from the second driver, got $other")
    }
    // ... and can end the run the FIRST driver started (shared state)
    assert(lc2.endup(ctx, RunStatus.Failure, Some(0L), Some(1L)),
      "driver 2 must be able to transition driver 1's run")
    assert(lc1.currentStatus(ctx.runKey) === Some(RunStatus.Failure))
    // after the terminal status, the same params start a fresh run
    val again = lc2.startup("etl_load", parameters = Some("day=1"))
    assert(again.isRight && again.toOption.get.runId === 2L)
  }

  test("exclusive loser closes its WAITING run — no phantom active run survives") {
    // Deterministic interleaving: A starts module 2 exclusively behind a
    // MANDATORY parent with no run yet, so A enters the dependency wait;
    // the sleeper hook then plays driver B — completes the parent AND
    // starts a same-params run of module 2 (non-exclusive → RUNNING).
    // A's WAITING→RUNNING transition must be rejected by the
    // transactional gate AND must close A's WAITING run, or the state
    // view keeps a phantom active run no endup can ever reach.
    val (dir, store, at) = fixture()
    store.putDependencies(Seq(BatchDependency(1L, 2L, "MANDATORY")))
    val clock = new FakeClock(at)
    object HookSleeper extends Sleeper {
      var fired = false
      def sleep(seconds: Long): Unit = if (!fired) {
        fired = true
        val b = driver(dir, at.plusSeconds(1))
        val parent = b.startup("etl_load").toOption.get
        b.endup(parent, RunStatus.Success, Some(1L), Some(0L))
        b.startup("etl_report").toOption.get // B's RUNNING duplicate
      }
    }
    val lcA = new Lifecycle(new MwStateStore(spark, dir), clock, HookSleeper)
    val result = lcA.startup("etl_report", exclusiveRun = true)
    assert(result === Left(DuplicateRun),
      s"A must lose to B's racing RUNNING run, got $result")
    // exactly one active run for module 2 (B's) — A's WAITING is closed
    val active = store.monitorState.filter(
      org.apache.spark.sql.functions.col("module_id") === 2L &&
      org.apache.spark.sql.functions.col("run_status")
        .isin(RunStatus.Waiting, RunStatus.Running)).collect()
    assert(active.length === 1 && active(0).getAs[String]("run_status") === RunStatus.Running,
      s"exactly B's RUNNING run may stay active, got ${active.toSeq}")
    // A's run closed with the RE-RUN FAILURE terminal status + end time
    val aTerminal = store.monitorState.filter(
      org.apache.spark.sql.functions.col("module_id") === 2L &&
      org.apache.spark.sql.functions.col("run_status") === RunStatus.ReRunFailure).collect()
    assert(aTerminal.length === 1 && !aTerminal(0).isNullAt(
      aTerminal(0).fieldIndex("end_time")),
      "A's WAITING run must terminate as RE-RUN FAILURE with an end time")
  }

  test("dependency wait sees a parent completed by ANOTHER driver") {
    val (dir, store, at) = fixture()
    store.putDependencies(Seq(BatchDependency(1L, 2L, "MANDATORY")))
    val lc1 = driver(dir, at)
    val parent = lc1.startup("etl_load").toOption.get
    lc1.endup(parent, RunStatus.Success, Some(10L), Some(0L))
    // a different driver's exclusive child startup consults the parent
    // status written above through the shared commit log
    val lc2 = driver(dir, at.plusSeconds(120))
    val child = lc2.startup("etl_report", exclusiveRun = true)
    assert(child.isRight, s"child must proceed after parent SUCCESS, got $child")
  }

  /** Spark jobs started by `body` on this thread. Jobs are tagged by a
    * job group; a marker job in another group, once the listener has
    * seen it, proves every earlier job event was delivered (the listener
    * bus is FIFO). */
  private def sparkJobs[T](body: => T): (T, Int) = {
    val (group, marker) = (s"count-${System.nanoTime()}", s"marker-${System.nanoTime()}")
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => counted.incrementAndGet()
          case `marker` => markerSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the marker job")
      (out, counted.get)
    } finally sc.removeSparkListener(l)
  }

  test("a warm snapshot serves an exclusive startup over a satisfied MANDATORY parent, and its endup, with zero Spark jobs") {
    val (_, store, at) = fixture()
    store.putDependencies(Seq(BatchDependency(1L, 2L, "MANDATORY")))
    val lc = new Lifecycle(store, new FakeClock(at))
    // the parent's run satisfies the dependency and warms the snapshot
    val parent = lc.startup("etl_load").toOption.get
    assert(lc.endup(parent, RunStatus.Success, Some(1L), Some(0L)))
    val ((child, closed), jobs) = sparkJobs {
      val child = lc.startup("etl_report", exclusiveRun = true)
      (child, child.exists(lc.endup(_, RunStatus.Success, Some(1L), Some(0L))))
    }
    assert(child.map(_.runId) === Right(1L), s"the child must start: $child")
    assert(closed, "the child's endup must land")
    assert(jobs === 0, s"startup + endup launched $jobs Spark jobs")
  }

  test("session flags and control date flow through the multi-writer env store") {
    val (dir, store, at) = fixture()
    store.updEnv("BATCH_FLG_DBG", "Y")
    store.updEnv("BATCH_CONTROL_DATE", "10-Aug-2026")
    val lc = driver(dir, at)
    assert(lc.sessionFlags().debug)
    assert(lc.sessionControlDate() ===
      Timestamp.from(Instant.parse("2026-08-10T00:00:00Z")))
    // another driver flips the flag; a fresh read sees it (no cached role)
    new MwStateStore(spark, dir).updEnv("BATCH_FLG_DBG", "N")
    assert(!lc.sessionFlags().debug, "flag change by another driver must be visible")
  }

  test("batch log purge marker semantics match the single-writer rewrite") {
    val (dir, store, _) = fixture()
    def rec(day: Int) = BatchLogRec(
      Timestamp.from(Instant.parse(f"2026-08-$day%02dT00:00:00Z")),
      "p", 1L, "graft", Some("b"), Some(s"m$day"))
    (1 to 9).foreach(d => store.appendLog(rec(d)))
    store.purgeBatchLog(Timestamp.from(Instant.parse("2026-08-05T00:00:00Z")))
    assert(store.batchLog.count() === 5L, "days 5..9 survive the horizon")
    // the purge applies through checkpoint + vacuum too
    store.checkpoint(); store.vacuum()
    val fresh = new MwStateStore(spark, dir)
    assert(fresh.batchLog.count() === 5L)
    assert(fresh.batchLog.agg(org.apache.spark.sql.functions.min("run_date"))
      .collect()(0).getTimestamp(0) ===
      Timestamp.from(Instant.parse("2026-08-05T00:00:00Z")))
  }

  test("dimension tables round-trip through commits and checkpoints") {
    val (dir, store, _) = fixture()
    store.putRunCommands(Seq(RunCommand("etl_load", "run.sh -x")))
    store.putLoaderFiles(Seq(TmpRunLoader("etl_load", "f_${DAY}.dat", 1L)))
    store.putMailAddresses(Seq(MailAddr("s1", "Ada", "L")))
    store.appendMailAudit(MailAudit(
      Timestamp.from(Instant.parse("2026-08-12T10:00:00Z")),
      "a@x", "b@x", None, None, "subj"))
    assert(store.getRunCommand("etl_load") === "run.sh -x")
    assert(store.getRunCommand("nope") === "0")
    store.checkpoint(); store.vacuum()
    val fresh = new MwStateStore(spark, dir)
    assert(fresh.getRunCommand("etl_load") === "run.sh -x")
    assert(fresh.loaderFiles.collect().toSeq ===
      Seq(TmpRunLoader("etl_load", "f_${DAY}.dat", 1L)))
    assert(fresh.mailAddresses.collect().toSeq === Seq(MailAddr("s1", "Ada", "L")))
    assert(fresh.mailAudit.count() === 1L)
    assert(fresh.batchMaster.collect().map(_.module_name).sorted.toSeq ===
      Seq("etl_load", "etl_report"))
  }
}
