package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.state._

/** Forwarding [[ControlStore]] that times every call into the store and
  * records it as a `state` span. Writes are timed to their return, which
  * is when the commit is durable. Reads that return a frame are timed to
  * the frame's construction; the Spark job that later evaluates it runs
  * inside the caller's span. */
final class TimedControlStore(underlying: ControlStore, tracer: Tracer) extends ControlStore {
  val writesMs = new ConcurrentLinkedQueue[Double]()
  val readsMs = new ConcurrentLinkedQueue[Double]()

  private def timed[T](name: String, into: ConcurrentLinkedQueue[Double])(body: => T): T =
    tracer.span(name, "state") {
      val t0 = System.nanoTime()
      try body finally into.add((System.nanoTime() - t0) / 1e6)
    }
  private def w[T](name: String)(body: => T): T = timed(name, writesMs)(body)
  private def r[T](name: String)(body: => T): T = timed(name, readsMs)(body)

  def calls: Int = writesMs.size + readsMs.size
  def writes: Seq[Double] = writesMs.asScala.toSeq
  def reads: Seq[Double] = readsMs.asScala.toSeq

  def spark: SparkSession = underlying.spark

  def batchMaster: Dataset[BatchMaster] = r("batchMaster")(underlying.batchMaster)
  def putBatchMaster(rows: Seq[BatchMaster]): Unit = w("putBatchMaster")(underlying.putBatchMaster(rows))
  def dependencies: Dataset[BatchDependency] = r("dependencies")(underlying.dependencies)
  def putDependencies(rows: Seq[BatchDependency]): Unit =
    w("putDependencies")(underlying.putDependencies(rows))
  def loaderFiles: Dataset[TmpRunLoader] = r("loaderFiles")(underlying.loaderFiles)
  def putLoaderFiles(rows: Seq[TmpRunLoader]): Unit = w("putLoaderFiles")(underlying.putLoaderFiles(rows))
  def runCommands: Dataset[RunCommand] = r("runCommands")(underlying.runCommands)
  def putRunCommands(rows: Seq[RunCommand]): Unit = w("putRunCommands")(underlying.putRunCommands(rows))
  def mailAddresses: Dataset[MailAddr] = r("mailAddresses")(underlying.mailAddresses)
  def putMailAddresses(rows: Seq[MailAddr]): Unit =
    w("putMailAddresses")(underlying.putMailAddresses(rows))

  def monitorEvents: DataFrame = r("monitorEvents")(underlying.monitorEvents)
  def monitorState: DataFrame = r("monitorState")(underlying.monitorState)

  def appendEventGuarded(mk: Long => MonitorEvent, admit: () => Boolean): Option[Long] =
    w("appendEventGuarded")(underlying.appendEventGuarded(mk, admit))
  def transactRunIdGuarded(moduleId: Long, at: java.time.Instant,
      mk: (Long, Long) => MonitorEvent, admit: () => Boolean): Option[(Long, Long)] =
    w("transactRunIdGuarded")(underlying.transactRunIdGuarded(moduleId, at, mk, admit))

  def appendLog(rec: BatchLogRec): Unit = w("appendLog")(underlying.appendLog(rec))
  def batchLog: DataFrame = r("batchLog")(underlying.batchLog)
  def purgeBatchLog(horizon: java.sql.Timestamp): Unit = w("purgeBatchLog")(underlying.purgeBatchLog(horizon))
  def appendMailAudit(rec: MailAudit): Unit = w("appendMailAudit")(underlying.appendMailAudit(rec))
  def mailAudit: DataFrame = r("mailAudit")(underlying.mailAudit)

  def getEnv(name: String): Option[String] = r("getEnv")(underlying.getEnv(name))
  def getEnvs(names: Seq[String]): Map[String, String] = r("getEnvs")(underlying.getEnvs(names))
  def updEnv(name: String, value: String): Unit = w("updEnv")(underlying.updEnv(name, value))
  override def getRunCommand(batchName: String): String =
    r("getRunCommand")(underlying.getRunCommand(batchName))

  def close(): Unit = underlying.close()
}
