package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary. `trace` is the job the span
  * belongs to (a query drain or a module run); `parent` is the span that
  * caused it (-1 for a root). */
final case class Span(id: Int, parent: Int, trace: Int, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Spans are kept in memory and written when the run ends.
  * The parent of a span is the innermost open span on the same thread, so
  * driver threads of the nightly DAG each keep their own nesting. When
  * tracing is off, [[span]] only runs its body. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicInteger(0)
  private val traces = new AtomicInteger(0)
  private val done = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[(Int, Int)]](() => Nil)

  /** A fresh trace id for one job. */
  def newTrace(): Int = traces.incrementAndGet()

  def span[T](name: String, layer: String, trace: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val parent = outer.headOption.map(_._1).getOrElse(-1)
      val tr = if (trace >= 0) trace else outer.headOption.map(_._2).getOrElse(0)
      stack.set((id, tr) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        done.synchronized { done += Span(id, parent, tr, name, layer, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Self time per layer: each span's duration minus the time its child
    * spans cover (children run on the span's own thread, so they nest and
    * never overlap each other). */
  def layerSelfMs: Map[String, Double] = {
    val all = spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L))).sum / 1e6
    }
  }

  def spansJson(origin: Long): Seq[Any] = spans.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6)
  }
}

/** Task-level counters summed per Spark job group. The benchmark sets a
  * job group per job (see [[Jobs.group]]), so every stage and task is
  * attributed to the query or module that caused it. */
final class LayerListener extends SparkListener {
  final class Counters {
    val stages, tasks, cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill, scan =
      new AtomicLong(0L)
    val peakExecMem = new AtomicLong(0L)
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()

  private def of(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => of(g).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.scan.addAndGet(m.inputMetrics.bytesRead)
        c.peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      }
    }

  /** Sum of the counters over the groups `keep` selects. */
  def totals(keep: String => Boolean): Map[String, Double] = {
    val cs = groups.asScala.collect { case (g, c) if keep(g) => c }.toSeq
    def sum(f: Counters => AtomicLong): Double = cs.map(c => f(c).get).sum.toDouble
    Map(
      "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "cpu_ms" -> sum(_.cpuNs) / 1e6, "run_ms" -> sum(_.runMs), "gc_ms" -> sum(_.gcMs),
      "shuffle_read_bytes" -> sum(_.shuffleRead), "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spill_bytes" -> sum(_.spill), "scan_bytes" -> sum(_.scan),
      "peak_exec_mem_bytes" -> cs.map(_.peakExecMem.get).foldLeft(0L)(math.max).toDouble)
  }
}

object Jobs {
  /** Job group of one benchmark job; the listener keys its counters on it. */
  def group(kind: String, trace: Int, name: String): String = s"perfbench/$kind/$trace/$name"

  def withGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev, interruptOnCancel = false)
  }

  /** `f` over `items` on nproc threads (the untimed set-up and checks);
    * results in input order. */
  def parallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try items.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      .map(_.get())
    finally pool.shutdown()
  }

  /** Block until the listener bus has delivered every posted event, so
    * counters read afterwards are complete. The bus is private to Spark,
    * hence the reflective call. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.getClass.getMethods.find(_.getName == "listenerBus").map(_.invoke(sc)).foreach { bus =>
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
