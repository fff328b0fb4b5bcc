package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle._
import graft.state._

/** Checkpoint/vacuum equivalence for the control plane: ONE scripted
  * lifecycle scenario runs against an [[MwStateStore]]; a fresh store
  * opened over the same directory after `checkpoint()` + `vacuum()` —
  * its reads served from the consolidated parquet checkpoint instead of
  * the commit tail — must observe exactly the state the scenario left:
  * the same monitor and envvar events (same seqs, same seq-derived run
  * keys), the same surviving batch_log rows after the retention purge,
  * the same latest-state view and the same env values. */
class StoreEquivalenceSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  private class FakeClock(var t: Instant) extends Clock {
    def now(): Instant = t
    def advance(secs: Long): Unit = t = t.plusSeconds(secs)
  }

  /** The scripted scenario: registry setup, env config, successful and
    * failed runs, typed failures, duplicate rejection, an exclusive run
    * over a satisfied dependency, log appends and a retention purge. */
  private def runScenario(store: ControlStore): Unit = {
    val clock = new FakeClock(Instant.parse("2026-08-12T10:00:00Z"))
    val lc = new Lifecycle(store, clock, SystemSleeper)
    store.putBatchMaster(Seq(
      BatchMaster(1, "etl_load", 1, Some("TEST"), None),
      BatchMaster(2, "etl_report", 1, Some("TEST"), None),
      BatchMaster(3, "etl_off", 1, Some("TEST"),
        Some(Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))))))
    store.putDependencies(Seq(BatchDependency(1L, 2L, "MANDATORY")))
    store.updEnv("BATCH_FLG_DBG", "Y")
    store.updEnv("BATCH_CONTROL_DATE", "12-Aug-2026")

    val a = lc.startup("etl_load").toOption.get            // seq: WAITING-free RUNNING
    clock.advance(60)
    assert(lc.endup(a, RunStatus.Success, Some(100L), Some(0L)))
    clock.advance(60)
    val b = lc.startup("etl_load", parameters = Some("x=1")).toOption.get
    assert(lc.startup("etl_load", parameters = Some("x=1")).swap.toOption
      .contains(DuplicateRun))                             // gate event
    assert(lc.startup("etl_off").swap.toOption.contains(BatchDisabled))
    assert(lc.startup("nope").swap.toOption.contains(NoRecordBatchMaster))
    // the parent must TERMINATE before the dependent child starts — a
    // RUNNING parent would put the exclusive startup into its (real,
    // 120 s) dependency poll loop
    assert(lc.endup(b, RunStatus.Success, Some(7L), Some(0L)))
    // exclusive child over the SUCCESS parent: WAITING then RUNNING
    val c = lc.startup("etl_report", exclusiveRun = true).toOption.get
    clock.advance(30)
    assert(lc.endup(c, RunStatus.Failure, Some(5L), Some(2L)))
    assert(!lc.endup(b), "re-endup is a no-op")

    (1 to 6).foreach { d =>
      store.appendLog(BatchLogRec(
        Timestamp.from(Instant.parse(f"2026-08-$d%02dT00:00:00Z")),
        "p", d.toLong, "graft", Some("etl_load"), Some(s"m$d")))
    }
    store.purgeBatchLog(Timestamp.from(Instant.parse("2026-08-04T00:00:00Z")))
    store.updEnv("BATCH_FLG_DBG", "N")
  }

  private def rows(df: org.apache.spark.sql.DataFrame, order: String*): Seq[String] =
    df.orderBy(order.head, order.tail: _*).collect().map(_.toString).toSeq

  /** Everything a reader of the control plane can observe after the
    * scenario. */
  private def observed(store: MwStateStore): Seq[Seq[String]] = Seq(
    rows(store.monitorEvents, "event_seq"),
    rows(store.envvarEvents, "event_seq"),
    rows(store.batchLog, "statement_num"),
    rows(store.monitorState, "run_key"),
    store.getEnvs(Seq("BATCH_FLG_DBG", "BATCH_CONTROL_DATE")).toSeq.sorted.map(_.toString))

  test("equivalence survives the multi-writer checkpoint/vacuum cycle") {
    val dir = Files.createTempDirectory("graft-eq").toString
    val store = new MwStateStore(spark, dir, checkpointEvery = 5)
    runScenario(store)
    val before = observed(store)
    assert(before.head.length >= 10, "scenario must exercise a real stream")
    assert(store.batchLog.select("statement_num").collect().map(_.getLong(0)).sorted
      .toSeq === Seq(4L, 5L, 6L), "the purge must leave days 4..6")
    store.checkpoint(); store.vacuum()
    val fresh = new MwStateStore(spark, dir, checkpointEvery = 5)
    val after = observed(fresh)
    Seq("monitor events", "envvar events", "batch_log", "monitor state", "env values")
      .zipWithIndex.foreach { case (what, i) =>
        assert(after(i) === before(i),
          s"$what after checkpoint + vacuum must equal the state before it")
      }
  }
}
