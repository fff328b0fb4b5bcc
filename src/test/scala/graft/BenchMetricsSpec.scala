package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle.Observability

/** The bench gate's smear-vs-drift discriminator rests on one claim:
  * two runs of the SAME physical plan over the same data report the
  * same plan metrics (stages, tasks, shuffle bytes). This pins that
  * claim for three plan-stable queries, so a round where "plan-stable"
  * is used to dismiss a wall-time flag is arguing from a tested
  * invariant rather than a hope (r18 verdict item 2). */
class BenchMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("plan metrics are run-stable: two runs of the same plan report identical footprints") {
    val meter = new Observability.PlanMeter().attach(spark)
    try {
      def footprint(n: String): Observability.PlanSnap = {
        spark.catalog.clearCache()
        Observability.drainListenerBus(spark)
        val s0 = meter.snapshot
        SparkEntry.queries(n)(spark, TestSpark.sfDir).count()
        Observability.drainListenerBus(spark)
        meter.snapshot - s0
      }
      Seq("q_scan_project", "q_agg_max", "q_topn_pergroup").foreach { n =>
        val a = footprint(n)
        val b = footprint(n)
        assert(a.stages === b.stages, s"$n stage count must be run-stable")
        assert(a.tasks === b.tasks, s"$n task count must be run-stable")
        assert(a.shuffleRead === b.shuffleRead, s"$n shuffle-read bytes must be run-stable")
        assert(a.shuffleWrite === b.shuffleWrite, s"$n shuffle-write bytes must be run-stable")
        assert(a.stages > 0 && a.tasks > 0, s"$n must report a non-empty footprint")
      }
      // a shuffling plan must actually report shuffle bytes — a meter
      // that read zero everywhere would make every flag "plan-stable"
      val g = footprint("q_agg_max")
      assert(g.shuffleWrite > 0, "groupBy must report shuffle-write bytes")
      assert(g.shuffleRead > 0, "groupBy must report shuffle-read bytes")
    } finally spark.sparkContext.removeSparkListener(meter.listener)
  }

  test("gate predicates: watch reports every >2x-floor reading, the gate keeps its absolute guard") {
    // the r20 blind spot: five >2x-floor readings hid under the 0.5 s
    // absolute guard and never entered the artifact's adjudication queue.
    // Watch now uses the gate's own 2x bar with NO absolute guard.
    assert(Bench.ratioOutlier(Some(0.1), 0.21), "a 2.1x sub-second reading must be watched")
    assert(!Bench.gateFlag(Some(0.1), 0.21), "...but must not fail the gate (0.11 s delta < 0.5 s guard)")
    assert(!Bench.ratioOutlier(Some(0.1), 0.19), "a sub-2x reading is not watched")
    assert(Bench.gateFlag(Some(1.0), 2.1) && Bench.ratioOutlier(Some(1.0), 2.1),
      "a >2x reading with >0.5 s delta trips both predicates")
    assert(!Bench.gateFlag(Some(1.0), 1.9), "sub-2x never flags")
    assert(!Bench.gateFlag(None, 99.0) && !Bench.ratioOutlier(None, 99.0),
      "a query with no recorded floor is never flagged or watched")
    assert(!Bench.ratioOutlier(Some(0.0), 1.0), "a zero floor must not divide-flag everything")
  }

  test("floor gate, watch list and plan verdicts compare only a run at the record's sf and cpus") {
    val rec = Some("""{"metric":"total","queries":{"q_a":0.100},""" +
      """"loadavg":{"cpus":32,"start":1.00,"end":2.00,"queries":{"q_a":1.00}},""" +
      """"sf":"/data/sf0.1","total_sec":0.100}""")
    assert(Bench.recordMismatch(rec, "/data/sf0.1", "32").isEmpty,
      "the recorded scale and CPU count compare")
    assert(Bench.recordMismatch(rec, "/data/sf0.1/", "32").isEmpty,
      "a trailing slash names the same dir")
    assert(Bench.recordMismatch(rec, "/data/sf0.01", "32").nonEmpty, "another scale never compares")
    assert(Bench.recordMismatch(rec, "/data/sf0.1", "4").nonEmpty, "another CPU count never compares")
    assert(Bench.recordMismatch(None, "/data/sf0.1", "32").nonEmpty,
      "no record: nothing says where the floors were taken")
    val star = Some(""""loadavg":{"cpus":"*","start":1.00},"sf":"/data/sf0.1"""")
    assert(Bench.recordMismatch(star, "/data/sf0.1", "*").isEmpty, "a quoted cpus value parses")
    // the committed record states both fields (it was taken on 32 CPUs)
    val committed = Option(getClass.getResourceAsStream("/bench_last_run.json")).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val why = Bench.recordMismatch(committed, "/nowhere", "32")
    assert(why.exists(_.endsWith(", cpus 32)")), s"the committed record must parse, got $why")
  }
}
