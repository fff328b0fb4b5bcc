package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** THE stored-search-index probe pipeline (hits + additive `_stats`
  * roll-up + scorer), shared by every spec that compares a stored index
  * against the in-query BM25 — five drifting copies of the avgdl
  * derivation would let one spec silently check an old stats contract. */
object SearchProbe {
  def scores(spark: SparkSession, path: String): Seq[(Long, Double, Long)] = {
    val hits = graft.operators.Search.probeSearchIndex(spark, path,
        graft.operators.Search.QueryTerms)
      .select("doc_id", "dl", "word", "tf")
    // stats come from the ONE shared definition (incl. the retraction
    // correction) so the probe helper can never drift from the store
    graft.operators.Search.scoreBm25(hits,
        graft.operators.Search.searchStats(spark, path)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
  }
}

/** Which job group and job tags the Spark jobs of a call carry. */
object JobProbe {
  /** Run `body` under a fresh job group and job tag; returns the group
    * and the (group, tags) local properties of every job that started
    * while it ran. Marker jobs in their own groups bracket the window:
    * the listener bus delivers in order, so every event between the two
    * markers is one of `body`'s jobs, and none of an earlier call's. */
  def jobsOf(spark: SparkSession)(body: => Unit): (String, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val stamp = System.nanoTime()
    val (group, open, close) = (s"probe-$stamp", s"open-$stamp", s"close-$stamp")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val (opened, closed) =
      (new java.util.concurrent.CountDownLatch(1), new java.util.concurrent.CountDownLatch(1))
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val g = p.map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == open) opened.countDown()
        else if (g == close) closed.countDown()
        else if (opened.getCount == 0 && closed.getCount == 1)
          jobs.add((g, p.map(_.getProperty("spark.job.tags")).orNull))
      }
    }
    def marker(g: String): Unit = {
      sc.setJobGroup(g, g)
      try spark.range(1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(l)
    try {
      marker(open)
      assert(opened.await(30, java.util.concurrent.TimeUnit.SECONDS))
      sc.setJobGroup(group, group)
      sc.addJobTag(group)
      try body
      finally { sc.removeJobTag(group); sc.clearJobGroup() }
      marker(close)
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (group, jobs.asScala.toSeq)
  }
}
