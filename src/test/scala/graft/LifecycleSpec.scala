package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle._
import graft.state._

/** Lifecycle-adjacent semantics that need no concurrent drivers: the
  * envvar store across a restart, and the Spark progress listener. The
  * store-generic matrix lives in [[LifecycleBehaviors]]; racing drivers
  * in [[MwLifecycleSpec]]. */
class LifecycleSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  test("envvar latest-value survives a store restart (seq spans all logs)") {
    val dir = Files.createTempDirectory("graft-restart").toString
    val s1 = new MwStateStore(spark, dir)
    s1.updEnv("BATCH_CONTROL_DATE", "12-Aug-2026")
    s1.updEnv("BATCH_CONTROL_DATE", "13-Aug-2026")
    s1.close()
    // restart: a fresh store over the same dir must continue ABOVE the
    // existing envvar seqs even with zero monitor events written
    val s2 = new MwStateStore(spark, dir)
    s2.updEnv("BATCH_CONTROL_DATE", "14-Aug-2026")
    assert(s2.getEnv("BATCH_CONTROL_DATE") === Some("14-Aug-2026"))
    s2.close()
  }

  test("progress listener reports completed stages") {
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = Observability.addProgressListener(spark, msgs.add(_))
    try {
      spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
        .count().collect()
      val deadline = System.nanoTime() + 5000000000L // listener bus is async
      while (msgs.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!msgs.isEmpty, "listener must report at least one completed stage")
      assert(msgs.peek().startsWith("stage "))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
