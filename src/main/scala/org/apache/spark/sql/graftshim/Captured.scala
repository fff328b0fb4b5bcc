package org.apache.spark.sql.graftshim

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Run driver-side work on another thread as if it ran on the caller's:
  * the worker carries the caller's active session, job group, job tags
  * and every other Spark local property (a streaming micro-batch's query
  * id and batch id among them), so its jobs cancel with the caller's
  * job group and are attributed to it by listeners. Spark's own
  * broadcast and subquery threads use the same capture; it takes the
  * classic session type, hence this package. */
object Captured {
  def submit[T](s: SparkSession, exec: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(castToImpl(s), exec)(body)
}
