package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.state.{EnvVarEvent, MonitorEvent, MwStateStore, TxnLog}

/** The control plane (state/TxnLog + state/MwStateStore). The specs
  * here are the concurrency claims themselves — dense version-as-seq
  * under racing writers, serializable run-id assignment, crash-invisible
  * staging, checkpoint/vacuum equivalence — run with each "driver" as
  * its own store instance (no shared JVM locks stand in for the
  * protocol). */
class MwStateStoreSpec extends TxnLogBehaviors {
  protected lazy val spark = TestSpark.spark

  // the default publisher's binding of the protocol behaviors; the
  // conditional-put bindings run the same matrix in TxnLogBehaviors.scala
  def publisher: graft.state.CommitPublisher = TxnLog.HardLink
  def publisherName: String = "hardlink"
  def plantCrashedStaging(txnDir: java.nio.file.Path): java.nio.file.Path =
    Files.write(txnDir.resolve(".tmp-crashed"), "k\nghost".getBytes)

  private def tmpDir(): String =
    Files.createTempDirectory("graft-mw").toString

  private def ev(key: String, moduleId: Long = 1L, runId: Long = 0L,
      status: String = "R", at: String = "2026-02-01T10:00:00.123456Z"): MonitorEvent =
    MonitorEvent(
      run_key = key, event_seq = 0L, module_id = moduleId,
      run_date = Timestamp.from(java.time.Instant.parse(at)),
      run_id = runId, parameters = Some("p=\"1\"\nline2\ttab"), // escaping torture
      audit_id = None, run_status = status, sub_system = Some("s"),
      exclusive_run_yn = Some("N"),
      control_date = Some(Timestamp.from(java.time.Instant.parse(at))),
      end_time = None, records_processed = Some(7L), records_in_error = None)

  // ---- TxnLog protocol ----------------------------------------------------

  // ---- concurrent drivers -------------------------------------------------

  test("racing updEnv: final value is the max-version commit, history complete") {
    val dir = tmpDir()
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 6).map { d =>
        Future { val s = new MwStateStore(spark, dir); d -> s.updEnvAssigned("FLAG", s"v$d") }
      }
      val byDriver = Await.result(Future.sequence(futures), Duration.Inf).toMap
      val store = new MwStateStore(spark, dir)
      val winner = byDriver.maxBy(_._2)._1
      assert(store.getEnv("FLAG") === Some(s"v$winner"),
        "latest value must follow the commit total order")
      assert(store.envvarEvents.count() === 6L)
      assert(store.getEnv("MISSING") === None)
    } finally pool.shutdown()
  }

  test("racing run-id assignment is serializable: unique contiguous ids per (module, day)") {
    val dir = tmpDir()
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      def assign(s: MwStateStore, key: String, moduleId: Long,
          at: String = "2026-02-01T10:00:00.123456Z"): (Long, Long) =
        s.transactRunId(moduleId, java.time.Instant.parse(at),
          (rid, seq) => ev(key, moduleId = moduleId, runId = rid, at = at)
            .copy(event_seq = seq))
      val futures = (1 to 6).map { d =>
        Future {
          val s = new MwStateStore(spark, dir)
          assign(s, s"race-$d", moduleId = 42L)
        }
      }
      val assigned = Await.result(Future.sequence(futures), Duration.Inf)
      assert(assigned.map(_._1).sorted === (1L to 6L),
        s"run ids must be NVL(MAX)+1-contiguous under races, got $assigned")
      // a different module/day starts its own sequence
      val s = new MwStateStore(spark, dir)
      assert(assign(s, "other", moduleId = 7L)._1 === 1L)
      assert(assign(s, "other-day", moduleId = 42L,
        at = "2026-02-02T00:00:00.000000Z")._1 === 1L)
    } finally pool.shutdown()
  }

  // ---- round-trip fidelity ------------------------------------------------

  test("event payload round-trips exactly: escapes, NULLs, micro-precision timestamps") {
    val store = new MwStateStore(spark, tmpDir())
    val e = ev("rt", at = "2026-03-01T23:59:59.999999Z")
    val seq = store.appendMonitorEvent(e)
    val got = store.monitorEvents.as(
      org.apache.spark.sql.Encoders.product[MonitorEvent]).collect()
    assert(got.toSeq === Seq(e.copy(event_seq = seq)),
      "decoded event must equal the appended one field-for-field")
  }

  // ---- checkpoint / vacuum ------------------------------------------------

  test("checkpoint + vacuum preserve the exact event history and seq floor") {
    val dir = tmpDir()
    val store = new MwStateStore(spark, dir, checkpointEvery = 10)
    (1 to 17).foreach { i =>
      if (i % 3 == 0) store.updEnv("K", s"v$i")
      else store.appendMonitorEvent(ev(s"run-$i"))
    }
    val before = store.monitorEvents.orderBy("event_seq").collect().toSeq
    val beforeEnv = store.envvarEvents.orderBy("event_seq").collect().toSeq
    assert(Files.isDirectory(Paths.get(dir, "_ckpt")),
      "crossing the K boundary must have produced a checkpoint")
    store.vacuum()
    // tail commits ≤ the checkpoint version are gone, history unchanged
    val reader = new MwStateStore(spark, dir, checkpointEvery = 10)
    assert(reader.monitorEvents.orderBy("event_seq").collect().toSeq === before)
    assert(reader.envvarEvents.orderBy("event_seq").collect().toSeq === beforeEnv)
    // post-vacuum appends continue the seq space above everything durable
    val s18 = reader.appendMonitorEvent(ev("run-18"))
    assert(s18 === 18L, s"post-vacuum seq must continue at 18, got $s18")
    assert(reader.monitorEvents.count() === before.length + 1L)
  }

  test("checkpoint/vacuum churn under racing writers loses nothing") {
    // aggressive K=4 so checkpoints and vacuums interleave CONSTANTLY
    // with appends from 4 drivers — the torture case for the
    // dump-cap/publish-guard/floor protocol. Every event must survive
    // with its exact seq; the final view must be complete.
    val dir = tmpDir()
    val pool = Executors.newFixedThreadPool(5) // 4 writers + the time traveler
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 4).map { d =>
        Future {
          val s = new MwStateStore(spark, dir, checkpointEvery = 4)
          (1 to 15).map { i =>
            val seq = s.appendMonitorEvent(ev(s"churn-$d-$i"))
            if (i % 5 == 0) s.vacuum()
            seq
          }
        }
      }
      // a 5th worker races TIME-TRAVEL reads against the churn: an as-of
      // read may legitimately refuse once vacuum drops its history, but
      // it must refuse LOUDLY — any row set it does return must be the
      // exact dense prefix, never a partial table (the reconstruction
      // retry loop's contract under concurrent checkpoint-GC/vacuum)
      val traveler = Future {
        val s = new MwStateStore(spark, dir, checkpointEvery = 4)
        var checked = 0
        (1 to 20).foreach { _ =>
          val v = s.version
          if (v >= 1) {
            val asOf = math.max(1L, v / 2)
            // the read either refuses/errors LOUDLY (a racing vacuum can
            // surface as the store's IllegalState, Spark's path-not-found
            // AnalysisException, or a task FileNotFound — all acceptable
            // under the documented 1-predecessor grace window) or it
            // returns rows — and then they must be the EXACT prefix. The
            // assert sits OUTSIDE the catch so a partial table can never
            // be swallowed as "just a race".
            val got =
              try Some(s.monitorEventsAsOf(asOf).select("event_seq")
                .collect().map(_.getLong(0)).sorted.toSeq)
              catch { case scala.util.control.NonFatal(_) => None }
            got.foreach { seqs =>
              assert(seqs === (1L to asOf),
                s"as-of $asOf under churn returned a partial table: $seqs")
              checked += 1
            }
          }
        }
        checked
      }
      val seqs = Await.result(Future.sequence(futures), Duration.Inf).flatten
      assert(seqs.sorted === (1L to 60L))
      Await.result(traveler, Duration.Inf)
      // deterministic success, independent of race luck: after the churn
      // settles, the latest version and the reported horizon must BOTH
      // replay their exact dense prefixes
      locally {
        val s = new MwStateStore(spark, dir, checkpointEvery = 4)
        Seq(s.version, math.max(1L, s.oldestReconstructableVersion())).foreach { asOf =>
          val got = s.monitorEventsAsOf(asOf).select("event_seq")
            .collect().map(_.getLong(0)).sorted.toSeq
          assert(got === (1L to asOf), s"post-churn as-of $asOf: $got")
        }
      }
      val reader = new MwStateStore(spark, dir, checkpointEvery = 4)
      val rows = reader.monitorEvents.select("event_seq", "run_key").collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === (1L to 60L),
        "every event must survive checkpoint/vacuum churn exactly once")
      assert(rows.map(_.getString(1)).distinct.length === 60)
    } finally pool.shutdown()
  }

  test("a cached snapshot never serves data another writer has since checkpointed and vacuumed away") {
    val dir = tmpDir()
    val (a, b) = (new MwStateStore(spark, dir), new MwStateStore(spark, dir))
    val at = "2026-02-01T10:00:00.123456Z"
    def assign(s: MwStateStore, key: String): Long =
      s.transactRunId(42L, java.time.Instant.parse(at),
        (rid, seq) => ev(key, moduleId = 42L, runId = rid, at = at).copy(event_seq = seq))._1
    def state(s: MwStateStore): Map[String, (String, Long)] =
      s.monitorState.select("run_key", "run_status", "run_id").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    def seqs(s: MwStateStore): Seq[Long] =
      s.monitorEvents.select("event_seq").collect().map(_.getLong(0)).sorted.toSeq

    assert(assign(a, "a-1") === 1L)
    a.updEnv("FLAG", "a")
    // A's snapshot is warm at version 2
    assert(state(a) === Map("a-1" -> ("R", 1L)))
    assert(a.getEnvs(Seq("FLAG")) === Map("FLAG" -> "a"))
    // B writes past A's snapshot — new runs, closing A's run, a new flag
    // value — then checkpoints and vacuums: the commits A would decode
    // incrementally are gone
    assert((1 to 3).map(i => assign(b, s"b-$i")) === Seq(2L, 3L, 4L))
    b.appendMonitorEvent(ev("a-1", moduleId = 42L, runId = 1L, status = "S", at = at))
    b.updEnv("FLAG", "b")
    assert(b.checkpoint() === 7L)
    b.vacuum(retainCheckpoints = 1)
    assert(b.oldestReconstructableVersion() === 7L, "commits 1..7 must be vacuumed")

    assert(seqs(a) === Seq(1L, 3L, 4L, 5L, 6L), "every monitor event exactly once")
    assert(state(a) === Map("a-1" -> ("S", 1L), "b-1" -> ("R", 2L), "b-2" -> ("R", 3L),
      "b-3" -> ("R", 4L)))
    assert(a.getEnvs(Seq("FLAG")) === Map("FLAG" -> "b"))
    assert(assign(a, "a-2") === 5L, "run ids continue B's, contiguously")
    // the snapshot A reloaded from B's checkpoint keeps folding new commits
    assert(assign(b, "b-4") === 6L)
    assert(seqs(a) === Seq(1L, 3L, 4L, 5L, 6L, 8L, 9L))
    assert(state(a).values.map(_._2).toSeq.sorted === (1L to 6L))
    assert(a.monitorEvents.count() === seqs(b).length.toLong)
  }

  test("a malformed tail commit fails reads loudly instead of decoding to NULLs") {
    def line(runDate: String, moduleId: String): String =
      s"""{"run_key":"bad","event_seq":2,"module_id":$moduleId,"run_date":"$runDate",""" +
        """"run_id":0,"parameters":null,"audit_id":null,"run_status":"R","sub_system":null,""" +
        """"exclusive_run_yn":"N","control_date":null,"end_time":null,""" +
        """"records_processed":null,"records_in_error":null}"""
    def storeWith(payloadLine: String): MwStateStore = {
      val store = new MwStateStore(spark, tmpDir())
      assert(store.appendMonitorEvent(ev("ok")) === 1L)
      assert(store.monitorState.count() === 1L) // warm snapshot at version 1
      assert(store.log.tryCommit(2L, "monitor\n" + payloadLine))
      store
    }
    // control: the hand-written line is well-formed as written
    val good = storeWith(line("2026-02-01T10:00:00.000000Z", "1"))
    assert(good.monitorEvents.filter(col("run_key") === "bad")
      .select("module_id", "run_date").collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq ===
      Seq((1L, Timestamp.from(java.time.Instant.parse("2026-02-01T10:00:00Z")))))
    Seq(
      "a timestamp outside the pinned pattern" -> line("2026-02-01 10:00:00", "1"),
      "a string in a long field" -> line("2026-02-01T10:00:00.000000Z", "\"one\"")
    ).foreach { case (what, bad) =>
      val store = storeWith(bad)
      val reads: Seq[(String, () => Any)] = Seq(
        "monitorEvents" -> (() => store.monitorEvents.collect()),
        "monitorState" -> (() => store.monitorState.collect()),
        // one snapshot serves every read: it cannot advance past the bad commit
        "getEnvs" -> (() => store.getEnvs(Seq("FLAG"))),
        "monitorEventsAsOf" -> (() => store.monitorEventsAsOf(2L).collect()),
        "checkpoint" -> (() => store.checkpoint()),
        "a cold store" -> (() => new MwStateStore(spark, store.dir).monitorState.collect()))
      reads.foreach { case (read, f) =>
        val e = intercept[org.apache.spark.SparkException](f())
        assert(e.getMessage.contains("FAILFAST"), s"$what / $read: ${e.getMessage}")
      }
      assert(!Files.exists(Paths.get(store.dir, "_ckpt", f"${2L}%020d")),
        s"$what: a malformed commit must never be baked into a checkpoint")
    }
  }

  test("latest-state view matches the single-writer store's W1 semantics") {
    val store = new MwStateStore(spark, tmpDir())
    store.appendMonitorEvent(ev("a", status = "W"))
    store.appendMonitorEvent(ev("b", status = "W"))
    store.appendMonitorEvent(ev("a", status = "S"))
    val state = store.monitorState.select("run_key", "run_status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("a" -> "S", "b" -> "W"))
  }

  test("time travel: as-of reads replay exact prefixes across checkpoint boundaries") {
    val store = new MwStateStore(spark, tmpDir(), checkpointEvery = 4)
    val vs = (1 to 10).map(i => store.updEnvAssigned("FLAG", s"v$i"))
    assert(vs === (1L to 10L))
    assert(store.version === 10L)
    // as of version k the envvar log holds exactly commits 1..k and the
    // latest value is v_k — spanning pre-checkpoint (k<4), exactly-at
    // (k=4,8) and tail-over-checkpoint (k=5,9,10) reconstructions
    Seq(1L, 3L, 4L, 5L, 8L, 9L, 10L).foreach { k =>
      val df = store.envvarEventsAsOf(k)
      assert(df.count() === k, s"asOf $k")
      val latest = df.orderBy(org.apache.spark.sql.functions.col("event_seq").desc)
        .limit(1).collect()(0).getAs[String]("value")
      assert(latest === s"v$k", s"asOf $k")
    }
    // asOf(latest) is the current view, row for row
    assert(store.envvarEventsAsOf(10L).collect().toSet === store.envvarEvents.collect().toSet)
    intercept[IllegalArgumentException](store.envvarEventsAsOf(11L))
    intercept[IllegalArgumentException](store.envvarEventsAsOf(0L))
  }

  test("time travel: monitor state as of a version shows that instant's beliefs") {
    val store = new MwStateStore(spark, tmpDir(), checkpointEvery = 100)
    val v1 = store.appendMonitorEvent(ev("run-a", status = "R"))
    store.appendMonitorEvent(ev("run-b", status = "R"))
    val v3 = store.appendMonitorEvent(ev("run-a", status = "S"))
    def stateAt(v: Long): Map[String, String] =
      store.monitorStateAsOf(v).collect()
        .map(r => r.getAs[String]("run_key") -> r.getAs[String]("run_status")).toMap
    assert(stateAt(v1) === Map("run-a" -> "R"))
    assert(stateAt(v3 - 1) === Map("run-a" -> "R", "run-b" -> "R"))
    assert(stateAt(v3) === Map("run-a" -> "S", "run-b" -> "R"))
  }

  test("time travel: vacuum bounds the horizon and the refusal names it") {
    val store = new MwStateStore(spark, tmpDir(), checkpointEvery = 4)
    (1 to 10).foreach(i => store.updEnvAssigned("FLAG", s"v$i"))
    // checkpoints exist at 4 and 8; retain only the newest → checkpoint 4
    // is GC'd and every commit ≤ 8 is vacuumed
    store.vacuum(retainCheckpoints = 1)
    assert(store.oldestReconstructableVersion() === 8L)
    // at and after the horizon: full replay via checkpoint 8 + tail
    assert(store.envvarEventsAsOf(8L).count() === 8)
    assert(store.envvarEventsAsOf(9L).count() === 9)
    // before it: loud refusal carrying the horizon, never a partial table
    val e = intercept[IllegalStateException](store.envvarEventsAsOf(3L))
    assert(e.getMessage.contains("not reconstructable"))
    assert(e.getMessage.contains("oldest reconstructable version is 8"))
  }
}
