package graft.state

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The control-plane surface [[graft.lifecycle.Lifecycle]] runs against —
  * the seam between ONE batch-orchestration semantics and TWO storage
  * disciplines:
  *
  *  - [[StateStore]]: single-writer parquet event logs, cross-process
  *    exclusion by lock file, in-JVM atomicity by monitor — the
  *    one-driver deployment.
  *  - [[MwStateStore]]: optimistic [[TxnLog]] commits, version-as-seq,
  *    serializable read-modify-write — any number of concurrent
  *    drivers.
  *
  * The two seq-sensitive operations are deliberately TRANSACTION-shaped
  * rather than lock-shaped (`nextSeq` + raw append would bake the
  * single-writer design into every caller): the store is handed a
  * constructor function and decides itself how to make the
  * read-assign-append atomic. Constructor functions must be pure — the
  * multi-writer store re-invokes them on every commit retry.
  */
trait ControlStore extends AutoCloseable {
  def spark: SparkSession

  // ---- dimension / manifest tables ---------------------------------------
  def batchMaster: Dataset[BatchMaster]
  def putBatchMaster(rows: Seq[BatchMaster]): Unit
  def dependencies: Dataset[BatchDependency]
  def putDependencies(rows: Seq[BatchDependency]): Unit
  def loaderFiles: Dataset[TmpRunLoader]
  def putLoaderFiles(rows: Seq[TmpRunLoader]): Unit
  def runCommands: Dataset[RunCommand]
  def putRunCommands(rows: Seq[RunCommand]): Unit
  def mailAddresses: Dataset[MailAddr]
  def putMailAddresses(rows: Seq[MailAddr]): Unit

  // ---- monitor event log --------------------------------------------------
  def monitorEvents: DataFrame
  def monitorState: DataFrame

  /** Append one monitor event whose seq (and anything derived from it —
    * the reference builds `run_key` from the seq) the STORE assigns:
    * `mk(seq)` constructs the event for the assigned number. Returns the
    * seq. Durable on return (the X1 autonomous-transaction property). */
  final def appendEventAssigned(mk: Long => MonitorEvent): Long =
    appendEventGuarded(mk, () => true).get

  /** Guarded [[appendEventAssigned]]: the append lands only if `admit()`
    * holds INSIDE the store's atomic section — the check-then-act gates
    * the reference got from row locks (endup's `UPDATE … WHERE
    * run_status IN ('RUNNING','WAITING')`) expressed as a transaction.
    * `admit` re-evaluates against the current state on every
    * multi-writer retry, so two racing terminal transitions can never
    * both land. None = rejected. Like `mk`, `admit` must be pure. */
  def appendEventGuarded(mk: Long => MonitorEvent,
      admit: () => Boolean): Option[Long]

  /** Atomic func_get_run_id + monitor insert (body:170-182 + 192-214):
    * assigns `NVL(MAX(run_id), 0) + 1` for (module, UTC day of `at`) and
    * appends `mk(runId, seq)` such that no concurrent assignment can
    * interleave — same-day ids stay unique and contiguous. Returns
    * (runId, seq). */
  final def transactRunId(moduleId: Long, at: Instant,
      mk: (Long, Long) => MonitorEvent): (Long, Long) =
    transactRunIdGuarded(moduleId, at, mk, () => true).get

  /** Guarded [[transactRunId]]: assignment + insert land only if
    * `admit()` holds in the same atomic section (the duplicate-run gate
    * — two drivers racing the same (module, params) must not both go
    * RUNNING). None = rejected. */
  def transactRunIdGuarded(moduleId: Long, at: Instant,
      mk: (Long, Long) => MonitorEvent, admit: () => Boolean): Option[(Long, Long)]

  // ---- batch log + mail audit --------------------------------------------
  def appendLog(rec: BatchLogRec): Unit
  def batchLog: DataFrame
  def purgeBatchLog(horizon: Timestamp): Unit
  def appendMailAudit(rec: MailAudit): Unit
  def mailAudit: DataFrame

  // ---- envvar config ------------------------------------------------------
  def getEnv(name: String): Option[String]
  def getEnvs(names: Seq[String]): Map[String, String]
  def updEnv(name: String, value: String): Unit

  /** func_get_run_command (body:994-1009): lookup; ANY failure → "0"
    * (the reference's WHEN OTHERS contract, body:1006-1008). Shared
    * default — both stores serve it from [[runCommands]]. */
  def getRunCommand(batchName: String): String =
    try {
      val rows = runCommands.filter(col("batch_name") === batchName)
        .select("run_command").collect()
      if (rows.length == 1) rows.head.getString(0) else "0"
    } catch {
      // NonFatal, not Throwable: Oracle's WHEN OTHERS contract doesn't
      // survive process-fatal conditions (OOM, interrupts) either —
      // masking those as "0" would run the batch on a half-dead JVM
      case scala.util.control.NonFatal(_) => "0"
    }

  def close(): Unit
}

object ControlStore {
  /** `NVL(MAX(run_id), 0)` for (module, UTC day of `at`) — THE run-id
    * scope both stores share. Epoch-day compare, NOT `date_trunc`
    * (which truncates in the session time zone and would never match the
    * UTC literal on a non-UTC session — see Lifecycle.getRunId's
    * original derivation). Filter → collect → driver max, so no
    * aggregate is planned: over a local-relation state view the whole
    * lookup runs on the driver. */
  def maxRunId(monitorState: DataFrame, moduleId: Long, at: Instant): Long = {
    val epochDay = Math.floorDiv(at.getEpochSecond, 86400L)
    monitorState.filter(
        col("module_id") === moduleId &&
        expr("unix_micros(run_date) div 86400000000") === lit(epochDay))
      .select("run_id").collect()
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }
      .maxOption.getOrElse(0L)
  }
}
