package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle._
import graft.state._

/** [[Runner.drain]] is what "ran the query" means for ClusterCheck,
  * ScaleCheck and the Orchestrator: every row and column of the output,
  * so a failure a `count()` would prune away fails the run. */
class RunnerSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  /** Throws for every row it sees; count() never evaluates it, because
    * Catalyst prunes the unused output column. */
  private val boom = udf((k: Long) => { if (k >= 0) throw new IllegalStateException(s"boom at $k"); k })

  /** A registry entry whose only failure sits in an output column. */
  private val outputColumnFails: (SparkSession, String) => DataFrame = (s, d) =>
    graft.sources.Tables.orders(s, d).select(col("o_orderkey"), boom(col("o_orderkey")).as("bad"))

  test("drain returns count()'s rows, including an empty output") {
    Seq("q_scan_project", "q_agg_max", "q_anti").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      assert(Runner.drain(df) === df.count(), q)
    }
    assert(Runner.drain(SparkEntry.queries("q_anti")(spark, dir)) === 0L,
      "q_anti is empty at this scale")
    // the empty frame shape a maintenance module reports for a fileless store
    assert(Runner.drain(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.sources.Tables.orders(spark, dir).schema)) === 0L)
  }

  test("a failure only in an output column fails drain while count() succeeds") {
    val df = outputColumnFails(spark, dir)
    assert(df.count() > 0L)
    val e = intercept[Exception](Runner.drain(outputColumnFails(spark, dir)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom at")), e.toString)
  }

  test("the Orchestrator closes a module failing only in an output column FAILURE with 0 records; its MANDATORY dependent gets DEPENDENCY FAILURE; a module's jobs carry its run_key as job group") {
    val store = new MwStateStore(spark, Files.createTempDirectory("graft-runner").toString)
    store.putBatchMaster(Seq(BatchMaster(1, "R_BAD", 1, Some("TEST"), None),
      BatchMaster(2, "R_DOWN", 1, Some("TEST"), None),
      BatchMaster(3, "R_OK", 1, Some("TEST"), None)))
    store.putDependencies(Seq(BatchDependency(1, 2, "MANDATORY")))
    store.putRunCommands(Seq(RunCommand("R_BAD", "graft.query q_output_column_fails"),
      RunCommand("R_DOWN", "graft.query q_scan_project"),
      RunCommand("R_OK", "graft.query q_agg_max")))
    val orch = new Orchestrator(spark, new Lifecycle(store, SystemClock), dir,
      SparkEntry.queries + ("q_output_column_fails" -> outputColumnFails))

    val bad = orch.runModule("R_BAD", runLevel = Some(1))
    assert(bad.isInstanceOf[Orchestrator.Failed], s"got $bad")
    assert(orch.runModule("R_DOWN", runLevel = Some(1)) === Orchestrator.NotRun(DependencyFailed))

    val rows = SparkEntry.queries("q_agg_max")(spark, dir).count()
    val (_, jobs) = JobProbe.jobsOf(spark) {
      assert(orch.runModule("R_OK", runLevel = Some(1)) === Orchestrator.Completed("R_OK", "q_agg_max", rows))
    }
    val state = store.monitorState.orderBy("module_id").collect()
      .map(r => (r.getAs[Long]("module_id"), r.getAs[String]("run_status"),
        r.getAs[Long]("records_processed"), r.getAs[String]("run_key")))
    assert(state.map(t => (t._1, t._2, t._3)).toSeq === Seq(
      (1L, RunStatus.Failure, 0L), (2L, RunStatus.DependencyFailure, 0L),
      (3L, RunStatus.Success, rows)))
    val runKey = state(2)._4
    assert(jobs.nonEmpty && jobs.forall(_._1 == runKey), s"R_OK's jobs must carry its run_key $runKey: $jobs")
  }
}
