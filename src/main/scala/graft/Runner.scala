package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.lifecycle.Observability

/** The one way the harness mains (Bench, ClusterCheck, ScaleCheck,
  * Verify, Explain) and the Orchestrator run a registered query: the
  * session they run it in, the dev-subset list, the warm-up, one timed
  * run and the drain that counts as having run it. */
object Runner {
  type Query = (SparkSession, String) => DataFrame

  /** A session configured as every harness main runs one: UTC session
    * time (the precondition of `Tables.events`' NTZ→TIMESTAMP cast being
    * wall-clock-preserving), nanosecond parquet timestamps read as longs,
    * the `graft_*` SQL names, no UI, WARN logging. `extra` adds settings
    * (ClusterCheck's executor class path). */
  def session(master: String, shufflePartitions: String,
      extra: (String, String)*): SparkSession = {
    val spark = extra.foldLeft(SparkSession.builder().master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The dev-subset list in env var `name`: comma-separated query names,
    * None when unset (so a full run measures everything). */
  def only(name: String): Option[Set[String]] =
    sys.env.get(name).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Where warm-up runs: the sf0.001 sibling of `sfDir`, or `sfDir`
    * itself when there is none. */
  def warmDir(sfDir: String): String = {
    val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (sibling.isDirectory) sibling.getPath else sfDir
  }

  /** Untimed warm-up: `act` on each of `names` at [[warmDir]], so the
    * first measured query reports its own work instead of JVM/JIT
    * start-up. Failures are reported, not swallowed: a silent skip would
    * push the start-up cost back into the first measured query. */
  def warmup(spark: SparkSession, sfDir: String, names: Seq[String], tag: String)(
      act: DataFrame => Any): Unit = {
    val w = warmDir(sfDir)
    names.foreach { n =>
      try SparkEntry.queries.get(n).foreach(f => act(f(spark, w)))
      catch { case NonFatal(e) => System.err.println(s"[$tag] warmup $n failed on $w: ${e.getMessage}") }
    }
  }

  /** One run: its wall seconds and the rows it reported, or what it threw. */
  final case class Run(sec: Double, rows: Either[Throwable, Long]) {
    def ok: Boolean = rows.isRight
    def error: String = rows.fold(
      e => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}", _ => "")
  }

  /** Time `body`, which builds and runs one query and returns its rows,
    * under job group `group`. The session cache is cleared first: an
    * operator that persist()s internally (q_pagerank's edge frame) would
    * otherwise let a repeat plan-match the cache and skip the work being
    * measured, and would pin its blocks for every later query. NonFatal
    * only: after an OutOfMemoryError every later run is on a half-dead
    * JVM, so a fatal error aborts the caller. */
  def timed(spark: SparkSession, group: String, label: String)(body: => Long): Run = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val rows = Observability.withJobGroup(spark, group, label) {
      try Right(body) catch { case NonFatal(e) => Left(e) }
    }
    Run((System.nanoTime() - t0) / 1e9, rows)
  }

  /** The fastest successful run; when none succeeded, the fastest
    * failure, which stays visibly failed so a fast crash can never pass
    * for a fast success. */
  def best(runs: Seq[Run]): Run = {
    val succ = runs.filter(_.ok)
    (if (succ.nonEmpty) succ else runs).minBy(_.sec)
  }

  /** Run `df` to completion and return its row count: every row and
    * every column is written to the `noop` sink, so nothing the output
    * needs can be pruned away (a `count()` lets Catalyst drop unused
    * columns, joins and whole scoring subtrees), and the rows are counted
    * by an observation in the same execution, without a second job. */
  def drain(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}
