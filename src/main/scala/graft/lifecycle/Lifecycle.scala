package graft.lifecycle

import java.sql.Timestamp
import java.time.{Duration, Instant, ZoneOffset}
import java.time.temporal.ChronoUnit

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.functions.ScalarLib
import graft.state._

/** Injectable time (SURVEY §7.1 determinism): the reference blocks its own
  * session with SYSDATE arithmetic + DBMS_LOCK.sleep (body:325, 944-976);
  * tests drive a fake clock instead of wall time. */
trait Clock { def now(): Instant }
object SystemClock extends Clock { def now(): Instant = Instant.now() }

trait Sleeper { def sleep(seconds: Long): Unit }
object SystemSleeper extends Sleeper {
  def sleep(seconds: Long): Unit = Thread.sleep(seconds * 1000L)
}

/** X2 run-status vocabulary (body:426-447, 516-541, 546-613). */
object RunStatus {
  val Waiting = "WAITING"
  val Running = "RUNNING"
  val Success = "SUCCESS"
  val Failure = "FAILURE"
  val DependencyFailure = "DEPENDENCY FAILURE"
  val ReRunFailure = "RE-RUN FAILURE"
  val BatchDisabled = "BATCH-DISABLED"
  val NoRecordBatchMaster = "NO_RECORD_BATCH_MASTER"
  val TooManyRecordsBatchMaster = "TOO_MANY_RECORDS_BATCH_MASTER"

  /** Statuses from which a run may still move (the reference's UPDATE
    * matches only `run_status IN ('RUNNING','WAITING')`, body:465). */
  val active: Set[String] = Set(Waiting, Running)
}

/** X3 typed failure surface: the reference's EXCEPTIONs (body:11-12,
  * 481-483, 885) as values. Each carries the monitor status the reference
  * records for it (body:546-613). */
sealed trait BatchError { def status: String }
case object NoRecordBatchMaster extends BatchError { val status = RunStatus.NoRecordBatchMaster }
case object TooManyRecordsBatchMaster extends BatchError { val status = RunStatus.TooManyRecordsBatchMaster }
case object BatchDisabled extends BatchError { val status = RunStatus.BatchDisabled }
case object DuplicateRun extends BatchError { val status = RunStatus.ReRunFailure }
case object DependencyFailed extends BatchError { val status = RunStatus.DependencyFailure }
final case class NoActiveRun(batchName: String, runId: Long) extends BatchError {
  val status = RunStatus.Failure
}
final case class InvalidRunDate(code: Int, value: String) extends BatchError {
  val status = RunStatus.Failure
}

/** Throwable carrier for a [[BatchError]] raised inside a running batch
  * body (the reference RAISEs its typed exceptions; pre-run failures
  * travel as `Left(BatchError)` instead). Catchers can match on `error`
  * for the typed case. */
final case class BatchErrorException(error: BatchError, message: String)
  extends RuntimeException(message)

/** Env-driven session flags (proc_set_session_vars, body:355-401):
  * any lookup failure → flag off, exactly the reference's WHEN OTHERS → 0. */
final case class SessionFlags(debug: Boolean, logEnabled: Boolean, errEnabled: Boolean)

/** Per-run context — the reference's package globals (glo_sysdate,
  * glo_run_id, gr_batch_master, gt_timer; spec:20-26) made instance state so
  * one driver can run many batches concurrently (SURVEY §1.2).
  */
final class BatchContext(
    val master: BatchMaster,
    val runKey: String,
    val runId: Long,
    val parameterString: String,
    val runDate: Timestamp,
    val controlDate: Timestamp,
    val exclusiveRun: Boolean,
    val flags: SessionFlags,
    clock: Clock,
    val calledByForms: Boolean = false) {

  // --- U7 timer store (spec:7-12, 32-37; body:39-86) ----------------------
  private val timers = ArrayBuffer.empty[(Instant, Option[String])]

  /** proc_capture (body:39-47): append (now, context). */
  def capture(context: Option[String] = None): Unit =
    timers += ((clock.now(), context))

  /** proc_show_elapsed (body:51-86): scan ALL captures for a
    * case-insensitive context match — LAST match wins (body:60-67, the
    * loop keeps overwriting) — and format the elapsed span via
    * func_datediff. No match (including a NULL context, which Oracle's
    * UPPER(NULL)=UPPER(x) never matches) → None.
    */
  def showElapsed(prefix: Option[String] = None, context: Option[String] = None): Option[String] = {
    var lastTiming: Option[Instant] = None
    for ((t, c) <- timers)
      if (context.isDefined && c.isDefined && context.get.equalsIgnoreCase(c.get))
        lastTiming = Some(t)
    lastTiming.map { t =>
      val hms = ScalarLib.datediffHms(t.getEpochSecond, clock.now().getEpochSecond)
      prefix match {
        case None    => s"Total Time Taken $hms"
        case Some(p) => p + hms
      }
    }
  }
}

/** T2 dependency DECODE matrix (body:271-279) as a pure function:
  * 0 = proceed, 1 = keep waiting, 2 = mandatory failure, 3 = unknown
  * dependency type marker (the reference's DECODE default). `None` =
  * parent has no run yet for the control date (NO_DATA_FOUND) → keep
  * waiting (body:326-330).
  */
object DependencyMatrix {
  def decode(parentStatus: Option[String], dependencyType: String): Int = parentStatus match {
    case None                              => 1
    case Some(RunStatus.Success)           => 0
    case Some(RunStatus.Running)           => 1
    case Some(RunStatus.Waiting)           => 1
    case Some(_) => dependencyType match {
      case "MANDATORY" => 2
      case "OPTIONAL"  => 0
      case "WAIT"      => 1
      case _           => 3
    }
  }
}

/** The batch lifecycle layer (E1–E3, T1–T3, X1–X5): startup / endup /
  * continue / dependency wait / daily gate over the event-sourced
  * [[StateStore]] or the multi-writer [[graft.state.MwStateStore]] (the [[graft.state.ControlStore]] seam), with injectable clock + sleeper.
  *
  * Control-flow fidelity is to `func_batch_startup` (body:472-627),
  * `proc_batch_endup` (body:671-692), `proc_batch_continue` (body:632-645),
  * `func_dependency_chk` (body:251-346) and `func_daily000` (body:877-992);
  * state writes are append-events per SURVEY §7.1 instead of in-place
  * UPDATEs.
  */
class Lifecycle(
    val store: graft.state.ControlStore,
    clock: Clock = SystemClock,
    sleeper: Sleeper = SystemSleeper,
    pollSeconds: Long = 120,  // body:325
    auditId: Option[String] = None,
    log: String => Unit = _ => ()) {

  private def ts(i: Instant): Timestamp = Timestamp.from(i)
  private def today(): Timestamp = ts(clock.now().truncatedTo(ChronoUnit.DAYS))

  // ---- proc_set_session_vars (body:349-419) ------------------------------
  private val FlagVars = Seq("BATCH_FLG_DBG", "BATCH_FLG_LOG", "BATCH_FLG_ERR")

  private def flagsFrom(env: Map[String, String]): SessionFlags = SessionFlags(
    debug = env.get("BATCH_FLG_DBG").contains("Y"),
    logEnabled = env.get("BATCH_FLG_LOG").contains("Y"),
    errEnabled = env.get("BATCH_FLG_ERR").contains("Y"))

  private def controlDateFrom(v: Option[String]): Timestamp =
    v.flatMap { s =>
      val (code, d) = ScalarLib.checkDate(s)
      if (code == 0) Some(ts(d.atStartOfDay.toInstant(ZoneOffset.UTC))) else None
    }.getOrElse(today())

  /** Env flags, each defaulting off on any failure (body:365-401). */
  def sessionFlags(): SessionFlags = flagsFrom(store.getEnvs(FlagVars))

  /** glo_b_control_date (body:410-418): BATCH_CONTROL_DATE env parsed as
    * DD-MON-YYYY, falling back to TRUNC(SYSDATE) on any failure. */
  def sessionControlDate(): Timestamp =
    controlDateFrom(store.getEnv("BATCH_CONTROL_DATE"))

  /** The session vars startup needs, in ONE env-store lookup (vs one
    * per variable). */
  private def sessionVars(): (SessionFlags, Timestamp) = {
    val env = store.getEnvs(FlagVars :+ "BATCH_CONTROL_DATE")
    (flagsFrom(env), controlDateFrom(env.get("BATCH_CONTROL_DATE")))
  }

  // ---- proc_get_module_info (body:127-151) -------------------------------
  /** Single-row fetch contract (S1): case-insensitive name match; explicit
    * run_level or the MIN run_level for the name (body:137-143); 0 rows →
    * NoRecord, >1 → TooMany. The registry is dimension-sized, so the
    * driver-side collect IS the reference's SELECT INTO. */
  def getModuleInfo(batchName: String, runLevel: Option[Long]): Either[BatchError, BatchMaster] = {
    val byName = store.batchMaster
      .filter(upper(col("module_name")) === batchName.toUpperCase)
      .collect().toSeq
    val selected = runLevel match {
      case Some(rl) => byName.filter(_.run_level == rl)
      case None if byName.isEmpty => Seq.empty
      case None =>
        val minLevel = byName.map(_.run_level).min
        byName.filter(_.run_level == minLevel)
    }
    selected.length match {
      case 0 => Left(NoRecordBatchMaster)
      case 1 => Right(selected.head)
      case _ => Left(TooManyRecordsBatchMaster)
    }
  }

  // ---- parameter handling (body:493-495, 290-301) ------------------------
  /** 'p… Run_level=<n>' assembly; Oracle `||` drops NULLs (body:493-495). */
  def parameterString(parameters: Option[String], runLevel: Option[Long]): String =
    parameters.getOrElse("") + " Run_level=<" + runLevel.map(_.toString).getOrElse("") + ">"

  /** P12 prefix: SUBSTR(s, 1, INSTR(s, 'Run_level=<') - 2), uppercased
    * (body:290-301). INSTR=0 or 1 would make the SUBSTR length negative →
    * NULL in Oracle → None here (a NULL prefix never matches, body:306-320). */
  private[graft] def paramPrefix(s: String): Option[String] = {
    val p0 = s.indexOf("Run_level=<")
    if (p0 <= 1) None else Some(s.substring(0, p0 - 1).toUpperCase)
  }

  // ---- func_duplicate_run_chk (body:219-247) -----------------------------
  /** True iff a RUNNING run of the same module with the same parameters
    * (NVL-padded null-safe compare, body:228-235) already exists. The
    * reference's correlated MAX(run_date) subquery only changes the answer
    * for NULL run_dates, which the event store never writes. */
  def duplicateRunCheck(moduleId: Long, params: String): Boolean =
    !store.monitorState.filter(
      col("module_id") === moduleId &&
      col("run_status") === RunStatus.Running &&
      coalesce(col("parameters"), lit(" ")) === lit(params)).isEmpty

  // ---- func_get_run_id (body:170-182) ------------------------------------
  /** NVL(MAX(run_id), 0) + 1 for the module on the current day —
    * INFORMATIONAL read (the epoch-day semantics live in
    * [[graft.state.ControlStore.maxRunId]]). Actual assignment goes
    * through `store.transactRunId`, which makes the read-assign-append
    * atomic under whichever concurrency discipline the store implements;
    * a raw `getRunId` result can be stale by the time it is used. */
  def getRunId(moduleId: Long, now: Instant): Long =
    graft.state.ControlStore.maxRunId(store.monitorState, moduleId, now) + 1

  // ---- event append helpers (X1/X2) --------------------------------------
  /** Event constructor — appends go through the store's transactional
    * seam ([[graft.state.ControlStore.appendEventAssigned]] /
    * [[graft.state.ControlStore.transactRunId]]), which assigns the seq
    * and re-invokes the constructor on a multi-writer commit retry. */
  private def mkEvent(
      runKey: String, eventSeq: Long, moduleId: Long, runDate: Timestamp,
      runId: Long, params: String, status: String, subSystem: Option[String],
      exclusive: Boolean, controlDate: Timestamp,
      endTime: Option[Timestamp] = None, recsProcessed: Option[Long] = None,
      recsInError: Option[Long] = None): MonitorEvent =
    MonitorEvent(
      run_key = runKey, event_seq = eventSeq, module_id = moduleId,
      run_date = runDate, run_id = runId, parameters = Some(params),
      audit_id = auditId, run_status = status, sub_system = subSystem,
      exclusive_run_yn = Some(if (exclusive) "Y" else "N"),
      control_date = Some(controlDate), end_time = endTime,
      records_processed = recsProcessed, records_in_error = recsInError)

  /** Current status of a run in the state view (X2). */
  def currentStatus(runKey: String): Option[String] =
    store.monitorState.filter(col("run_key") === runKey)
      .select("run_status").collect().headOption.map(_.getString(0))

  // ---- E1: func_batch_startup (body:472-627) -----------------------------
  /** Startup a named batch: module-info fetch → disabled check → duplicate
    * check → (exclusive: WAITING event + dependency wait + run-id +
    * RUNNING event | plain: run-id + RUNNING event). Every failure path
    * records its typed status event before returning Left, exactly as the
    * reference's handlers insert failure-status rows (body:546-613).
    */
  def startup(
      batchName: String,
      runLevel: Option[Long] = None,
      exclusiveRun: Boolean = false,
      parameters: Option[String] = None,
      calledByForms: Boolean = false): Either[BatchError, BatchContext] = {
    val params = parameterString(parameters, runLevel)
    // Forms mode (body:490-542 IF guard, spec:26/45): skip ALL control-
    // table work — no module fetch, no checks, no monitor events — and
    // hand back a detached context whose endup is equally a no-op.
    if (calledByForms)
      return Right(new BatchContext(
        BatchMaster(0, batchName, runLevel.getOrElse(0L), None, None),
        runKey = s"forms-$batchName", runId = 0L, params,
        ts(clock.now()), today(), exclusiveRun, SessionFlags(false, false, false),
        clock, calledByForms = true))
    val (flags, controlDate) = sessionVars()

    def failureEvent(moduleId: Long, subSystem: Option[String], err: BatchError,
        paramsOut: String): Either[BatchError, BatchContext] = {
      // captured outside the constructor: `mk` must be pure — the
      // multi-writer store re-invokes it on every commit retry
      val at = ts(clock.now())
      store.appendEventAssigned(s0 =>
        mkEvent(s"$moduleId-$s0", s0, moduleId, at, 0, paramsOut,
          err.status, subSystem, exclusiveRun, controlDate))
      Left(err)
    }

    getModuleInfo(batchName, runLevel) match {
      case Left(NoRecordBatchMaster) =>
        // body:559-567: module_id 0, batch name folded into parameters
        failureEvent(0, None, NoRecordBatchMaster, s"BatchName=<$batchName> $params")
      case Left(err) =>
        // body:546-551 uses the stale gr_batch_master.module_id on
        // TOO_MANY_ROWS (whatever the previous call left there) — an
        // accident of package-global state; we record module_id 0.
        failureEvent(0, None, err, params)
      case Right(master) =>
        if (master.disabled_date.isDefined)           // body:499-502
          failureEvent(master.module_id, master.sub_system, BatchDisabled, params)
        // body:504-509 — the duplicate pre-check runs only where it buys
        // something: the exclusive branch, where catching a duplicate
        // BEFORE the WAITING insert avoids appending (and then having to
        // close) a doomed run. The non-exclusive branch gets the same
        // rejection from the transactional admit below, so a pre-check
        // there would just be a second identical latest-state read on
        // every startup.
        else if (exclusiveRun && duplicateRunCheck(master.module_id, params))
          failureEvent(master.module_id, master.sub_system, DuplicateRun, params)
        else if (exclusiveRun) {                      // body:511-530
          val start = clock.now()
          val s0 = store.appendEventAssigned(s =>
            mkEvent(s"${master.module_id}-$s", s, master.module_id, ts(start), 0, params,
              RunStatus.Waiting, master.sub_system, exclusiveRun, controlDate))
          val key = s"${master.module_id}-$s0"
          val dep = dependencyCheck(master, params, controlDate)
          if (dep != 0) {                             // body:601-613
            // end time captured OUTSIDE the constructor: the multi-writer
            // store re-invokes `mk` per commit retry, and the recorded
            // timestamp must not depend on how many retries it took
            val end = ts(clock.now())
            store.appendEventAssigned(s =>
              mkEvent(key, s, master.module_id, ts(start), 0, params,
                RunStatus.DependencyFailure, master.sub_system, exclusiveRun, controlDate,
                endTime = Some(end), recsProcessed = Some(0), recsInError = Some(0)))
            Left(DependencyFailed)
          } else {
            val now = clock.now()                     // body:527-530 (WAITING→RUNNING)
            // run_id scopes to the PRE-wait day (the reference's
            // glo_sysdate is captured before the WAITING insert): a
            // dependency wait crossing midnight continues the old day's
            // sequence instead of restarting at 1 on the new day.
            // read-assign-append through the store's transaction seam:
            // two concurrent startups of one module (distinct params
            // pass the duplicate check) must not both read max=N and
            // claim run_id N+1 — in-JVM monitor for the single-writer
            // store, optimistic commit for the multi-writer one. The
            // duplicate gate rides INSIDE the same transaction: the
            // pre-check above is only the cheap fast path, and a racing
            // same-params startup that went RUNNING during our
            // dependency wait must abort this transition (our own
            // WAITING event never trips the gate — it matches RUNNING
            // only).
            store.transactRunIdGuarded(master.module_id, start, (rid, s) =>
              mkEvent(key, s, master.module_id, ts(now), rid, params,
                RunStatus.Running, master.sub_system, exclusiveRun, controlDate),
              admit = () => !duplicateRunCheck(master.module_id, params)) match {
              case Some((runId, _)) =>
                Right(new BatchContext(master, key, runId, params, ts(now), controlDate,
                  exclusiveRun, flags, clock))
              case None =>
                // the WAITING event under `key` must CLOSE (the
                // DependencyFailure path's discipline): recording the
                // rejection under a fresh key would leave a phantom
                // active run in the state view that no endup can reach
                val end = ts(clock.now())
                store.appendEventAssigned(s =>
                  mkEvent(key, s, master.module_id, ts(start), 0, params,
                    RunStatus.ReRunFailure, master.sub_system, exclusiveRun, controlDate,
                    endTime = Some(end), recsProcessed = Some(0), recsInError = Some(0)))
                Left(DuplicateRun)
            }
          }
        } else {                                      // body:532-538
          val now = clock.now()
          // same transactional duplicate gate as above: two drivers
          // racing identical (module, params) startups serialize here,
          // and exactly one goes RUNNING
          store.transactRunIdGuarded(master.module_id, now, (rid, s) =>
            mkEvent(s"${master.module_id}-$s", s, master.module_id, ts(now), rid, params,
              RunStatus.Running, master.sub_system, exclusiveRun, controlDate),
            admit = () => !duplicateRunCheck(master.module_id, params)) match {
            case Some((runId, s0)) =>
              val key = s"${master.module_id}-$s0"
              Right(new BatchContext(master, key, runId, params, ts(now), controlDate,
                exclusiveRun, flags, clock))
            case None =>
              failureEvent(master.module_id, master.sub_system, DuplicateRun, params)
          }
        }
    }
  }

  /** X3 shell-mode surface (body:553-626): called_by_shell='Y' converts
    * every raise into "return 0"; success returns the run id. */
  def startupShell(
      batchName: String,
      runLevel: Option[Long] = None,
      exclusiveRun: Boolean = false,
      parameters: Option[String] = None): Long =
    startup(batchName, runLevel, exclusiveRun, parameters).map(_.runId).getOrElse(0L)

  // ---- proc_batch_endup (body:671-692) -----------------------------------
  /** Append the terminal status event. Only active runs move (the
    * reference's UPDATE matches `run_status IN ('RUNNING','WAITING')`,
    * body:465 — an ended run's endup is a silent no-op there, a logged
    * no-op here). Returns whether the transition applied. */
  def endup(ctx: BatchContext, status: String = RunStatus.Success,
      recordsProcessed: Option[Long] = None,
      recordsInError: Option[Long] = None): Boolean =
    if (ctx.calledByForms) false  // forms mode never touches the monitor (body:678, 653)
    else {
      val end = ts(clock.now()) // outside `mk`: pure under commit retries
      // active-status check INSIDE the store transaction — the atomic
      // equivalent of the reference's `UPDATE … WHERE run_status IN
      // ('RUNNING','WAITING')`: two drivers racing terminal transitions
      // for one run serialize, exactly one lands, the other is the
      // reference's silent (here: logged) no-op. A pre-checked variant
      // would let a racing Success mask a Failure.
      // the admit's LAST observation feeds the rejection message — a
      // fresh currentStatus there would be a second latest-state read
      // whose only consumer is a log line
      var observed: Option[String] = None
      store.appendEventGuarded(
        seq => mkEvent(ctx.runKey, seq, ctx.master.module_id, ctx.runDate,
          ctx.runId, ctx.parameterString, status, ctx.master.sub_system,
          ctx.exclusiveRun, ctx.controlDate, endTime = Some(end),
          recsProcessed = recordsProcessed, recsInError = recordsInError),
        admit = () => {
          observed = currentStatus(ctx.runKey)
          observed.exists(RunStatus.active)
        }) match {
        case Some(_) => true
        case None =>
          log(s"endup ignored: run ${ctx.runKey} not active (status=$observed)")
          false
      }
    }

  /** Third proc_batch_endup overload (spec:55-60, body:697-722): record
    * description/value pairs to batch_log, then end the run. The
    * reference iterates pt_desc/pt_value logging 'desc:    value' lines
    * via pack_exception.proc_reclog. */
  def endupWithLog(ctx: BatchContext, status: String,
      recordsProcessed: Option[Long], recordsInError: Option[Long],
      logPairs: Seq[(String, Long)]): Boolean = {
    if (ctx.calledByForms) return false // forms mode writes nothing (body:705-721 guard)
    logPairs.zipWithIndex.foreach { case ((desc, value), i) =>
      store.appendLog(BatchLogRec(ts(clock.now()), "proc_batch_endup", i + 1,
        "graft.lifecycle", Some(ctx.master.module_name), Some(s"$desc:    $value")))
    }
    endup(ctx, status, recordsProcessed, recordsInError)
  }

  // ---- T3: proc_batch_continue (body:632-645) ----------------------------
  /** Restore a run context from the state view: the latest RUNNING row for
    * (module, run_id) — proc_get_transaction_info's latest-row intent
    * (body:158-165; SURVEY §2.5 W1 note) — rehydrates parameters and
    * run_date into a fresh context. Latest = max run_date (NULL lowest,
    * as `ORDER BY run_date DESC` puts it last), then max event_seq:
    * reduced on the driver over the filtered rows, no sort planned. */
  def continueRun(batchName: String, runLevel: Option[Long], runId: Long): Either[BatchError, BatchContext] =
    getModuleInfo(batchName, runLevel).flatMap { master =>
      val rows = store.monitorState.filter(
          col("module_id") === master.module_id &&
          col("run_id") === runId &&
          col("run_status") === RunStatus.Running)
        .collect()
      rows.maxByOption(r =>
        (Option(r.getAs[Timestamp]("run_date")), r.getAs[Long]("event_seq"))) match {
        case None => Left(NoActiveRun(batchName, runId))
        case Some(r) =>
          Right(new BatchContext(master,
            r.getAs[String]("run_key"), runId,
            Option(r.getAs[String]("parameters")).getOrElse(""),
            r.getAs[Timestamp]("run_date"),
            Option(r.getAs[Timestamp]("control_date")).getOrElse(sessionControlDate()),
            r.getAs[String]("exclusive_run_yn") == "Y",
            sessionFlags(), clock))
      }
    }

  // ---- T2: func_dependency_chk (body:251-346) ----------------------------
  /** Poll each parent dependency in order until its DECODE leaves the
    * keep-waiting state; MANDATORY failure (2) aborts the scan. Parents
    * missing from batch_master are skipped (body:334-337). Returns the
    * DECODE of the last dependency examined — including the reference's
    * quirk that an earlier 3 (unknown dependency type) is forgotten if a
    * later dependency returns 0 (body:341 returns the loop variable).
    *
    * `maxPolls` bounds the wait for callers that cannot block forever; the
    * reference polls indefinitely (sleep 120 s, body:325-329).
    */
  def dependencyCheck(master: BatchMaster, params: String, controlDate: Timestamp,
      maxPolls: Long = Long.MaxValue): Int = {
    val deps = store.dependencies
      .filter(col("child_id") === master.module_id).collect().toSeq
    lazy val masters = store.batchMaster.collect()
    var last = 0
    for (dep <- deps if last != 2) {
      val parentName = masters.find(_.module_id == dep.parent_module_id).map(_.module_name)
      parentName.foreach { pn =>
        var polls = 0L
        var waiting = true
        while (waiting) {
          val st = parentLatestRunStatus(store.monitorState, dep.parent_module_id, pn,
            master.module_name, params, controlDate)
          last = DependencyMatrix.decode(st, dep.dependency_type)
          if (last != 1) waiting = false
          else if (polls >= maxPolls) waiting = false
          else {
            polls += 1
            log(s"dependency ${dep.parent_module_id} not ready (status=$st); sleeping $pollSeconds s")
            sleeper.sleep(pollSeconds)
          }
        }
      }
    }
    last
  }

  /** Status of the parent's latest run (max run_id, then max event_seq)
    * for the control date (body:269-322), read from `monitorState`. When
    * parent and child share a module name, the parameter prefixes before
    * 'Run_level=<' must match (the reference's duplicated SUBSTR/INSTR
    * predicate, body:290-320); otherwise any parameters qualify. None =
    * parent has no qualifying run yet. The predicates stay Spark
    * expressions (session-time-zone `date_trunc`, `upper`, `instr`); the
    * latest-run pick is a driver reduce over the filtered rows.
    */
  private[graft] def parentLatestRunStatus(monitorState: org.apache.spark.sql.DataFrame,
      parentId: Long, parentName: String,
      childName: String, params: String, controlDate: Timestamp): Option[String] = {
    val base = monitorState.filter(
      col("module_id") === parentId &&
      date_trunc("DAY", col("control_date")) === date_trunc("DAY", lit(controlDate)))
    val scoped =
      if (parentName != childName) base
      else paramPrefix(params) match {
        case None      => base.filter(lit(false)) // NULL prefix never matches
        case Some(pre) =>
          val storedPrefix = upper(expr(
            "substring(parameters, 1, greatest(instr(parameters, 'Run_level=<') - 2, 0))"))
          base.filter(storedPrefix === pre)
      }
    scoped.select("run_id", "event_seq", "run_status").collect()
      .maxByOption(r => (r.getLong(0), r.getLong(1))).map(_.getString(2))
  }

  // ---- S7: func_get_loader_file_name (body:1163-1251) --------------------
  /** Space-joined loader file names for a batch, `${DAY}` template expanded
    * (E3, the reference's richest query): flag dispatch — EISU242 takes
    * branch 3 on SATURDAY else branch 2, every other batch branch 1
    * (body:1201-1209) — then the 3-branch UNION ALL over tmp_run_loader
    * with case-insensitive batch match, ordered by file_seq, string-
    * aggregated (body:1172-1224). Empty → logs 'No Data file name found'
    * and returns "0" (the reference's NVL(names, 0), body:1228-1237).
    *
    * The collect is the function's contract (it RETURNS the joined string
    * to the driver); the per-batch manifest is dimension-sized. The
    * distributed rendition of the same pipeline is CoreOps.qUnionStragg.
    */
  def getLoaderFileName(batchName: String, runDay: String): String = {
    val names = loaderFileNames(batchName, runDay)
    if (names.isEmpty) "0" else names.mkString(" ")
  }

  /** The resolved name LIST behind [[getLoaderFileName]] — consumers that
    * go on to READ the files use this directly: round-tripping through
    * the reference's space-joined string would split a name containing a
    * space into bogus paths (and make a file literally named "0"
    * indistinguishable from the empty manifest). */
  private[graft] def loaderFileNames(batchName: String, runDay: String): Seq[String] = {
    val flag =
      if (batchName.equalsIgnoreCase("EISU242"))
        (if (runDay.equalsIgnoreCase("SATURDAY")) 3 else 2)
      else 1
    val t = store.loaderFiles.filter(upper(col("batch_name")) === batchName.toUpperCase)
    val avgName = upper(col("file_name")) === "AVG_${DAY}_VDN"
    // the three UNION ALL branches are mutually exclusive on the flag
    val branch = flag match {
      case 1 => t
      case 2 => t.filter(avgName)
      case _ => t.filter(!avgName)
    }
    // ordered by file_seq on the driver: the manifest is dimension-sized
    val names = branch
      .select(regexp_replace(col("file_name"), "\\$\\{DAY\\}", runDay), col("file_seq"))
      .collect().sortBy(_.getLong(1)).map(_.getString(0)).toSeq
    if (names.isEmpty) {
      store.appendLog(graft.state.BatchLogRec(ts(clock.now()), "func_get_loader_file_name",
        610, "graft.lifecycle", Some(batchName),
        Some(s"No Data file name found for batch <$batchName>")))
    }
    names
  }

  /** The load the manifest exists for: resolve the batch's file names via
    * [[getLoaderFileName]] and read them as one DataFrame (SURVEY S7 —
    * the SQL*Loader step maps to `spark.read.csv(paths: _*)`). Empty
    * manifest ("0") → None. `options` defaults cover the classic
    * SQL*Loader shape (headerless delimited files; pass a schema for
    * typed columns). */
  def loadBatchFiles(batchName: String, runDay: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      options: Map[String, String] = Map("header" -> "false")): Option[org.apache.spark.sql.DataFrame] = {
    loaderFileNames(batchName, runDay) match {
      case Seq() => None
      case names =>
        val reader = store.spark.read.options(options)
        Some(schema.fold(reader.option("inferSchema", "true"))(reader.schema)
          .csv(names: _*))
    }
  }

  // ---- T1: func_daily000 (body:877-992) ----------------------------------
  /** The daily gate: startup DAILY000 → validate run date → (no flag:
    * publish BATCH_CONTROL_DATE + purge 7-day-old logs) → sleep in ≤600 s
    * quanta until run_date 23:59:59 + 60 s → optional extra minutes →
    * endup. Returns 0 on success, 1 on failure (shell contract).
    */
  def dailyGate(runDate: String, frequency: String, runLevel: Option[Long] = None,
      exclusiveRun: Boolean = false, flagMinutes: Option[Long] = None): Int = {
    val params = s"par_run_date=<$runDate> par_frequency=<$frequency>" +
      s" par_flag=<${flagMinutes.map(_.toString).getOrElse("")}>"       // body:898-904
    startup("DAILY000", runLevel, exclusiveRun, Some(params)) match {
      case Left(_) => 1
      case Right(ctx) =>
        try {
          val (code, normalized) = ScalarLib.checkDate(runDate)          // body:906-913
          // typed failure (X3): the run-date rejection carries its
          // checkDate code through the BatchError surface
          if (code != 0) throw BatchErrorException(InvalidRunDate(code, runDate),
            s"Invalid Date <$runDate> Correct Usage For Date : DD-MON-YYYY")
          if (flagMinutes.isEmpty) {                                     // body:917-939
            store.updEnv("BATCH_CONTROL_DATE", runDate)
            store.purgeBatchLog(ts(clock.now().minus(7, ChronoUnit.DAYS)))
          }
          // Sleep-to-23:59:59+60s loop, recomputed each quantum so clock
          // drift never oversleeps (body:944-973).
          val target = normalized.atTime(23, 59, 59).toInstant(ZoneOffset.UTC)
          var remaining = Duration.between(clock.now(), target).getSeconds + 60
          while (remaining > 600) {
            log(s"Sleeping for 10 minutes . Current time =<${clock.now()}>")
            sleeper.sleep(600)
            remaining = Duration.between(clock.now(), target).getSeconds + 60
          }
          if (remaining > 0) sleeper.sleep(remaining)
          val extra = flagMinutes.getOrElse(0L) * 60                     // body:976
          if (extra > 0) sleeper.sleep(extra)
          endup(ctx, RunStatus.Success)                                  // body:978
          0
        } catch {
          // NonFatal, not Throwable (getRunCommand's rationale): the
          // reference's WHEN OTHERS never survived OOM/interrupt either,
          // and endup runs Spark work — doing that on a half-dead JVM
          // masks the fatal cause behind a fake ordinary failure
          case scala.util.control.NonFatal(e) =>                         // body:980-991
            log(s"daily gate failed: ${e.getMessage}")
            endup(ctx, RunStatus.Failure)
            1
        }
    }
  }
}
