package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle.Lifecycle
import graft.state.{ControlStore, MonitorEvent, MwStateStore, StateStore}

/** The multi-writer store's driver-side control reads against the
  * window/aggregate forms they replace, on generated monitor event sets
  * appended through a real [[MwStateStore]]:
  *  - the snapshot's latest state equals `StateStore.latestState` (the
  *    W1 window, highest event_seq per run_key);
  *  - [[ControlStore.maxRunId]] equals `coalesce(max(run_id), 0)` over
  *    the window view;
  *  - [[Lifecycle.parentLatestRunStatus]] equals the window pick of the
  *    qualifying row with the highest (run_id, event_seq).
  * One property evaluation appends 50 cases to one store — each case
  * owns two module ids and its own run keys, so no query of one case can
  * see another's events — and runs each reference form once over all of
  * them, a case_id column in its join and partition keys. The session
  * time zone is America/Los_Angeles and the dates sit around UTC
  * midnight, so the session-zone `date_trunc("DAY", control_date)` match
  * differs from a UTC one. */
class ControlReadParitySpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  /** A generated event names its module and run key by slot (0/1, 0..4);
    * the case's index turns slots into ids no other case uses. */
  private final case class Event(moduleSlot: Int, keySlot: Int, e: MonitorEvent)
  private final case class Query(moduleSlot: Int, at: Instant, parentSlot: Int,
      sameName: Boolean, params: String, controlDate: Timestamp)
  private final case class Case(events: Seq[Event], q: Query)

  private def moduleId(caseIdx: Int, slot: Int): Long = 2L * caseIdx + slot + 1

  // around UTC midnight: 2026-03-01T07:59:59Z is still Feb 28 in Los Angeles
  private val Instants = Seq("2026-03-01T00:30:00Z", "2026-03-01T07:59:59Z",
    "2026-03-01T08:00:00Z", "2026-03-01T23:30:00Z", "2026-03-02T06:00:00Z",
    "2026-03-02T12:00:00.000001Z").map(Instant.parse)
  private val Params = Seq("A Run_level=<1>", "a Run_level=<2>", "B Run_level=<1>",
    "Run_level=<1>", "x Run_level=<>", "no marker", "A  Run_level=<1>")
  private val Statuses = Seq("WAITING", "RUNNING", "SUCCESS", "FAILURE", "DEPENDENCY FAILURE")

  private val genInstant = Gen.oneOf(Instants)
  private val genEvent = for {
    moduleSlot <- Gen.choose(0, 1)
    keySlot <- Gen.choose(0, 4)
    runDate <- genInstant
    runId <- Gen.choose(0L, 3L)
    params <- Gen.option(Gen.oneOf(Params))
    status <- Gen.oneOf(Statuses)
    control <- Gen.option(genInstant)
  } yield Event(moduleSlot, keySlot, MonitorEvent("", 0L, 0L, Timestamp.from(runDate), runId,
    params, None, status, None, Some("N"), control.map(Timestamp.from), None, None, None))
  private val genQuery = for {
    moduleSlot <- Gen.choose(0, 1)
    at <- genInstant
    parentSlot <- Gen.choose(0, 1)
    same <- Gen.oneOf(true, false)
    params <- Gen.oneOf(Params)
    control <- genInstant
  } yield Query(moduleSlot, at, parentSlot, same, params, Timestamp.from(control))
  private val genCase = for {
    n <- Gen.choose(0, 12)
    events <- Gen.listOfN(n, genEvent)
    q <- genQuery
  } yield Case(events, q)

  private val CasesPerEvaluation = 50
  private val Evaluations = 20

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toList.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  test("driver-side latest state, maxRunId and parent status equal the window forms (1000 cases, non-UTC session)") {
    val root = Files.createTempDirectory("graft-parity")
    val lc = new Lifecycle(new MwStateStore(spark, root.resolve("unused").toString))
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    var firstMismatch = ""
    try {
      val prop = Prop.forAllNoShrink(Gen.listOfN(CasesPerEvaluation, genCase)) { cases =>
        // a fresh store gives the k-th append version (= event_seq) k
        val events = cases.zipWithIndex.flatMap { case (c, i) =>
          c.events.map(ev => ev.e.copy(run_key = s"c$i-k${ev.keySlot}",
            module_id = moduleId(i, ev.moduleSlot)))
        }.zipWithIndex.map { case (e, k) => e.copy(event_seq = k + 1L) }

        // ---- driver side ---------------------------------------------------
        val dir = Files.createTempDirectory(root, "eval")
        val (latest, answers) = try {
          // no checkpoint: this store's own snapshot is always ahead of it
          val store = new MwStateStore(spark, dir.toString, checkpointEvery = Int.MaxValue)
          events.foreach(store.appendMonitorEvent)
          val state = store.monitorState
          (state.collect().map(_.toSeq).toSet, cases.zipWithIndex.map { case (c, i) =>
            (ControlStore.maxRunId(state, moduleId(i, c.q.moduleSlot), c.q.at),
              lc.parentLatestRunStatus(state, moduleId(i, c.q.parentSlot), "P",
                if (c.q.sameName) "P" else "C", c.q.params, c.q.controlDate))
          })
        } finally deleteRecursively(dir)

        // ---- reference side: the window forms ------------------------------
        import spark.implicits._
        val window = StateStore.latestState(events.toDF(), Seq("run_key"),
          Seq(col("event_seq").desc)).cache()
        val refLatest = window.collect().map(_.toSeq).toSet
        val queries = cases.zipWithIndex.map { case (c, i) =>
          (i.toLong, moduleId(i, c.q.moduleSlot), Math.floorDiv(c.q.at.getEpochSecond, 86400L),
            moduleId(i, c.q.parentSlot), c.q.controlDate, c.q.sameName, lc.paramPrefix(c.q.params))
        }.toDF("case_id", "q_module", "q_day", "q_parent", "q_control", "q_same", "q_prefix")
        val refMaxRunId = window.join(queries, col("module_id") === col("q_module") &&
            expr("unix_micros(run_date) div 86400000000") === col("q_day"))
          .groupBy("case_id").agg(coalesce(max("run_id"), lit(0L)))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        val storedPrefix = upper(expr(
          "substring(parameters, 1, greatest(instr(parameters, 'Run_level=<') - 2, 0))"))
        val refParent = window.join(queries, col("module_id") === col("q_parent") &&
            date_trunc("DAY", col("control_date")) === date_trunc("DAY", col("q_control")) &&
            (!col("q_same") || (col("q_prefix").isNotNull && storedPrefix === col("q_prefix"))))
          .withColumn("rn", row_number().over(Window.partitionBy("case_id")
            .orderBy(col("run_id").desc, col("event_seq").desc)))
          .filter(col("rn") === 1)
          .select("case_id", "run_status").collect()
          .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
        window.unpersist()

        val mismatches =
          (if (latest == refLatest) Nil
           else Seq(s"latest state: driver-only ${latest -- refLatest}, window-only ${refLatest -- latest}")) ++
          answers.zipWithIndex.collect {
            case ((maxRunId, parent), i)
                if maxRunId != refMaxRunId.getOrElse(i, 0L) || parent != refParent.get(i) =>
              s"case $i ${cases(i)}: maxRunId $maxRunId vs ${refMaxRunId.getOrElse(i, 0L)}, " +
                s"parent $parent vs ${refParent.get(i)}"
          }
        if (mismatches.nonEmpty && firstMismatch.isEmpty) firstMismatch = mismatches.head
        mismatches.isEmpty
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(Evaluations), prop)
      assert(res.passed, "parity property failed: " +
        (if (firstMismatch.nonEmpty) firstMismatch else res.status.toString))
      assert(res.succeeded * CasesPerEvaluation >= 1000)
    } finally {
      spark.conf.set("spark.sql.session.timeZone", tz)
      deleteRecursively(root)
    }
  }
}
