package graft.lifecycle

import org.apache.spark.sql.SparkSession

/** The orchestration capstone: batch MODULES whose run commands ARE the
  * engine's registered queries, executed under the full control-plane
  * lifecycle — startup (duplicate gate, dependency DECODE matrix,
  * WAITING → RUNNING transition) → the query, drained in full under a
  * job group named by the run's `run_key` → endup with the drained row
  * count — so the monitor store is the single pane of glass the
  * reference package was built to provide, now fronting the engine this
  * repo built around it. This is the composition the control plane
  * existed FOR: `pkg_batch_util` never ran work itself, it bracketed
  * the shell commands `func_get_run_command` (body:994-1009) resolved;
  * here the same indirection resolves to a registered DataFrame query.
  *
  * Run-command convention: `graft.query <name>` names an entry of the
  * supplied registry (`graft.SparkEntry.queries` in production). The
  * command string lives in the store's run-commands table, so
  * operations re-point a module at a different query — or disable it
  * into the reference's "0" not-found contract — without redeploying
  * code, exactly the reference's shell-command indirection minus the
  * shell.
  *
  * Failure discipline: a startup refusal (dependency failure,
  * duplicate, disabled, unknown module) is [[Orchestrator.NotRun]] —
  * startup itself already recorded the refusal event, including the
  * closed DEPENDENCY FAILURE run. Once a run is RUNNING it ALWAYS
  * closes: an unresolvable command or a throwing query endups FAILURE
  * with zero records (the no-phantom-active-run discipline), which is
  * precisely what downstream MANDATORY dependents then refuse on.
  *
  * Scale note: the orchestrator is control-plane — one startup/endup
  * event pair per module run; the queries it brackets are the
  * data-plane and carry their own 100 TB stories. Chains are driven
  * sequentially by [[runChain]] in the caller's declared order;
  * PARALLEL drivers need no coordinator because the dependency gate
  * reads the store — each module's startup polls (`WAIT`-type) or
  * refuses (`MANDATORY` on a failed parent) by itself, which is how
  * the reference ran whole nightly estates from independent cron
  * entries. */
final class Orchestrator(
    spark: SparkSession,
    lc: Lifecycle,
    dataDir: String,
    registry: Map[String, graft.Runner.Query]) {

  import Orchestrator._

  /** Run one module end-to-end under the lifecycle. `exclusiveRun`
    * defaults ON — the dependency gate lives on the exclusive branch
    * (body:511-530), and an orchestrated DAG module is exactly the
    * run-once-per-day shape that branch models. */
  def runModule(batchName: String, runLevel: Option[Long] = None,
      parameters: Option[String] = None,
      exclusiveRun: Boolean = true): Outcome =
    lc.startup(batchName, runLevel, exclusiveRun, parameters) match {
      case Left(err) => NotRun(err)
      case Right(ctx) =>
        ctx.capture(Some("orchestrator"))
        val cmd = lc.store.getRunCommand(batchName)
        parseCommand(cmd).flatMap(n => registry.get(n).map(n -> _)) match {
          case None =>
            // "0" (not found / lookup failure — the reference's WHEN
            // OTHERS contract) and foreign command shapes close the run
            // as FAILURE rather than leaving a phantom RUNNING row
            lc.endup(ctx, RunStatus.Failure, Some(0L), Some(0L))
            Failed(batchName, s"unresolvable run command '$cmd'")
          case Some((name, fn)) =>
            try {
              // a full drain, not a count(): a count lets Catalyst prune the
              // output columns, so a failure in one would close SUCCESS
              val records = Observability.withJobGroup(spark, ctx.runKey,
                s"graft module $batchName: $name")(graft.Runner.drain(fn(spark, dataDir)))
              lc.endup(ctx, RunStatus.Success, Some(records), Some(0L))
              Completed(batchName, name, records)
            } catch {
              // NonFatal only (getRunCommand's rationale): endup runs
              // store work, and doing that on a half-dead JVM masks the
              // fatal cause behind an ordinary batch failure
              case scala.util.control.NonFatal(e) =>
                // endup itself can throw (store momentarily unavailable)
                // — unguarded, that exception would MASK the original
                // query failure AND leave the run row RUNNING, the
                // phantom-active-run state this class exists to prevent.
                // Guard the close, chain the query failure as suppressed
                // so neither stack is lost, and surface both in the
                // outcome (the RUNNING row is then an operator signal,
                // not a silent lie).
                val closeErr =
                  try { lc.endup(ctx, RunStatus.Failure, Some(0L), Some(0L)); None }
                  catch { case scala.util.control.NonFatal(e2) =>
                    e2.addSuppressed(e); Some(e2)
                  }
                // toString, not getMessage: a null-message exception
                // (NPE) must still name its class; the Throwable rides
                // in the outcome so no stack (or suppressed chain) is
                // lost to string formatting
                closeErr match {
                  case None =>
                    Failed(batchName, s"query $name failed: $e", Some(e))
                  case Some(e2) => Failed(batchName,
                    s"query $name failed: $e; AND endup failed " +
                      s"closing the run ($e2) — the run row is " +
                      "left RUNNING and needs an operator close", Some(e2))
                }
            }
        }
    }

  /** Drive a module chain in the caller's declared (topological) order.
    * Deliberately NO scheduler logic here: the dependency semantics —
    * who waits, who refuses, who proceeds — live in the store's DECODE
    * matrix where every driver (this one, cron entries, a human rerun)
    * reads the same truth; a failed module simply closes FAILURE and
    * its MANDATORY dependents startup into their own recorded
    * DEPENDENCY FAILURE runs. */
  def runChain(batchNames: Seq[String], runLevel: Option[Long] = None,
      parameters: Option[String] = None): Seq[(String, Outcome)] =
    batchNames.map(b => b -> runModule(b, runLevel, parameters))
}

object Orchestrator {
  sealed trait Outcome
  /** The module ran its query to SUCCESS; `records` is the drained row
    * count endup recorded. */
  final case class Completed(batchName: String, query: String, records: Long) extends Outcome
  /** Startup refused — the store carries the refusal event. */
  final case class NotRun(err: BatchError) extends Outcome
  /** The run went RUNNING and closed FAILURE (bad command or thrown
    * query). `cause` carries the full Throwable — the query failure,
    * or (when endup also failed) the endup exception with the query
    * failure chained as suppressed — so callers log real stack traces,
    * not the flattened `reason` string. */
  final case class Failed(batchName: String, reason: String,
      cause: Option[Throwable] = None) extends Outcome

  /** `graft.query <name>` → the registry key; anything else → None. */
  def parseCommand(cmd: String): Option[String] =
    cmd.trim.split("\\s+") match {
      case Array("graft.query", name) => Some(name)
      case _ => None
    }
}
