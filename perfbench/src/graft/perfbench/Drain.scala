package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The committed split of the query registry into the two drain
  * workloads. One file per workload under `partition/`, one query per
  * line; a line `<query> skip` keeps a query in its workload's list but
  * out of the timed set (the run-time budget cannot drain the whole
  * registry in one run). */
object Partition {
  final case class Entry(query: String, timed: Boolean)

  val DrainWorkloads = Seq("analytic_drain", "corpus_drain")

  def file(bench: String, workload: String): Path = Paths.get(bench, "partition", s"$workload.txt")

  def load(bench: String): Map[String, Seq[Entry]] =
    DrainWorkloads.map { w =>
      w -> Files.readAllLines(file(bench, w)).asScala.toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+") match {
          case Array(q) => Entry(q, timed = true)
          case Array(q, "skip") => Entry(q, timed = false)
          case other => throw new IllegalArgumentException(
            s"bad line in ${file(bench, w)}: ${other.mkString(" ")}")
        })
    }.toMap

  /** Registry queries the two lists get wrong: in neither list, in both,
    * or listed but not registered. Empty when the partition is sound. */
  def problems(lists: Map[String, Seq[Entry]], registry: Set[String]): Seq[String] = {
    val listed = lists.toSeq.flatMap { case (w, es) => es.map(e => e.query -> w) }
    val byQuery = listed.groupBy(_._1)
    registry.toSeq.sorted.flatMap { q =>
      byQuery.get(q) match {
        case None => Some(s"$q is in neither drain list")
        case Some(ws) if ws.size > 1 => Some(s"$q is listed ${ws.size} times: ${ws.map(_._2).mkString(", ")}")
        case _ => None
      }
    } ++ byQuery.keys.toSeq.sorted.filterNot(registry).map(q => s"$q is listed but not registered")
  }

  /** The partition rule: a query belongs to `analytic_drain` when its full
    * optimized plan holds no native `graft_*` kernel and reads no stored
    * index, model or memoized stage; otherwise to `corpus_drain`. */
  def classify(df: DataFrame, dataDir: String): String =
    if (Plans.kernels(df).isEmpty && Plans.leaves(df, dataDir).isEmpty) "analytic_drain"
    else "corpus_drain"
}

/** Plan inspection shared by the partition rule and memo accounting. */
object Plans {
  private def withSubqueries(p: LogicalPlan): Seq[LogicalPlan] =
    p.collectWithSubqueries { case n => n }

  /** Native kernel expressions (the engine's `graft.functions` classes)
    * anywhere in the optimized plan. */
  def kernels(df: DataFrame): Set[String] = kernelsIn(withSubqueries(df.queryExecution.optimizedPlan))

  private def kernelsIn(nodes: Seq[LogicalPlan]): Set[String] =
    nodes.flatMap(_.expressions.flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.") => e.getClass.getSimpleName
    })).toSet

  /** Kernels the optimized plan applies above its row-repeating `Generate`,
    * so once per repeated row rather than once per input row. */
  def kernelsAboveRepeat(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.optimizedPlan
    val below = plan.collect { case g: Generate => g.collect { case n => n } }.flatten
    if (below.isEmpty) Set.empty
    else kernelsIn(plan.collect { case n => n }.filterNot(n => below.exists(_ eq n)))
  }

  /** Leaves that read something other than the input dataset: files
    * outside `dataDir` (stored indexes and models), checkpointed RDDs and
    * cached relations. Each is named so that two constructions of a query
    * can be compared: the same RDD id twice means a memo served the
    * second. */
  def leaves(df: DataFrame, dataDir: String): Set[String] = {
    val data = Paths.get(dataDir).toAbsolutePath.normalize.toString
    withSubqueries(df.queryExecution.optimizedPlan).flatMap {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
          .filterNot(p => Paths.get(p).normalize.toString.startsWith(data)).map("store:" + _)
        case _ => Nil
      }
      case r: LogicalRDD => Seq(s"rdd:${r.rdd.id}")
      case m: InMemoryRelation => Seq(s"cache:${System.identityHashCode(m.cacheBuilder)}")
      case _ => Nil
    }.toSet
  }
}

/** Order-insensitive content digest of a query output: the row count and
  * the sum of per-row 64-bit hashes, doubles rounded to 6 decimals first
  * so that partial-aggregation order cannot change the digest. */
object Checksum {
  private def needs(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needs(et)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _: MapType => true
    case _ => false
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if needs(et) => transform(c, x => canon(x, et))
    case StructType(fs) if needs(dt) =>
      when(c.isNotNull, struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** Reference digests, recorded once from the outputs of a `graft.Verify`
  * run whose DuckDB compare passed (see README.md). */
object Reference {
  def file(bench: String): Path = Paths.get(bench, "reference", "sf0.1.tsv")

  def load(bench: String): Map[String, (Long, String)] =
    Files.readAllLines(file(bench)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t") match {
        case Array(q, rows, sum) => q -> (rows.toLong, sum)
        case other => throw new IllegalArgumentException(s"bad reference line: ${other.mkString(" ")}")
      }).toMap
}

object Drain {
  /** Seconds of --seconds per timed pass. */
  val PassSeconds = 4
  /** Untimed passes before the timed ones. */
  val WarmPasses = 2
  private final case class SetupInfo(seconds: Double, leaves: Set[String], constructJobs: Int)

  private def jobsIn(spark: SparkSession, group: String): Int = {
    Jobs.drainListenerBus(spark)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  def run(ctx: Ctx, workload: String): Outcome = {
    val spark = ctx.spark
    val a = ctx.args
    val tracer = ctx.tracer
    val registry = graft.SparkEntry.queries
    val lists = Partition.load(a.bench)
    val partitionProblems = Partition.problems(lists, registry.keySet)
    val timed = lists(workload).filter(_.timed).map(_.query).sorted
    val unknown = timed.filterNot(registry.contains)
    val names = timed.filter(registry.contains)
    val refs = Reference.load(a.bench)
    val attemptedN = new java.util.concurrent.atomic.AtomicLong(unknown.size.toLong)
    val failedN = new java.util.concurrent.atomic.AtomicLong(unknown.size.toLong)
    val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    unknown.foreach(q => notes.add(s"$q: not in the registry"))
    def fail(msg: String): Unit = { failedN.incrementAndGet(); notes.add(msg) }

    // Set-up, part 1: construct every timed query once, on nproc threads.
    // Constructing a query builds the stores and memoized stages it reads;
    // all of that is charged to set-up.
    val setup: Map[String, SetupInfo] = Jobs.parallel(names) { q =>
      val group = Jobs.group("setup", 0, q)
      val t0 = System.nanoTime()
      val leaves =
        try Plans.leaves(Jobs.withGroup(spark, group)(registry(q)(spark, a.data)), a.data)
        catch { case NonFatal(e) => fail(s"$q: construction failed: $e"); Set.empty[String] }
      q -> SetupInfo((System.nanoTime() - t0) / 1e9, leaves, jobsIn(spark, group))
    }.toMap

    // Set-up, part 2: the untimed warm-up, which is also the output
    // check: every query once more, its output digested and compared
    // with the reference.
    val checked: Map[String, (Option[(Long, String)], Set[String], Int, Set[String])] =
      Jobs.parallel(names) { q =>
        val group = Jobs.group("check", 0, q)
        attemptedN.incrementAndGet()
        val res = try {
          val df = Jobs.withGroup(spark, group)(registry(q)(spark, a.data))
          val cj = jobsIn(spark, group)
          val digest = Jobs.withGroup(spark, group)(Checksum.of(df))
          if (!refs.get(q).contains(digest))
            fail(s"$q: output digest $digest, reference ${refs.get(q)}")
          (Some(digest), Plans.leaves(df, a.data), cj, Plans.kernels(df))
        } catch { case NonFatal(e) =>
          fail(s"$q: check failed: $e")
          (None, Set.empty[String], 0, Set.empty[String])
        }
        q -> res
      }.toMap

    val memo: Map[String, Seq[String]] = names.map { q =>
      val s = setup(q)
      val (_, leaves2, jobs2, _) = checked(q)
      val reasons =
        leaves2.filter(_.startsWith("store:")).toSeq.sorted.map(l => s"reads ${l.drop(6)}") ++
          (leaves2 intersect s.leaves).filterNot(_.startsWith("store:")).toSeq.sorted
            .map(l => s"reuses memoized stage $l") ++
          (if (jobs2 < s.constructJobs)
            Seq(s"construction ran ${s.constructJobs} jobs first, $jobs2 afterwards")
          else Nil)
      q -> reasons
    }.toMap
    Main.log(s"set-up and checks done for ${names.size} queries")
    val storeBuildS = names.filter(q => memo(q).nonEmpty).map(setup(_).seconds).sum

    // Set-up, part 3: untimed passes exactly like a timed one, so the
    // single-thread drain path is compiled before it is timed. Pass times
    // fall for a few passes (5.1, 4.4, 3.9, 3.4, 3.4 s in one ten-pass
    // run on a 4-CPU host); the run budget holds two warm passes, and
    // every run makes the same number, so runs stay comparable.
    for (_ <- 1 to WarmPasses; q <- names) {
      spark.catalog.clearCache()
      try registry(q)(spark, a.data).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () } // the timed passes count failures
    }

    // Timed passes over the list, in sorted order on one driver thread.
    // The pass count follows --seconds alone (a pass takes about 4-6 s),
    // never a clock reading, so every run reports the median of as many
    // passes.
    ctx.markTimedStart()
    val passes = math.max(1, a.seconds / PassSeconds)
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val queryWalls = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    while (passWalls.size < passes) {
      val p0 = System.nanoTime()
      names.foreach { q =>
        val tr = tracer.newTrace()
        val q0 = System.nanoTime()
        attemptedN.incrementAndGet()
        val ok = Jobs.withGroup(spark, Jobs.group("timed", tr, q)) {
          tracer.span(q, "job", tr) {
            spark.catalog.clearCache()
            try {
              val df = tracer.span("construct", "operators")(registry(q)(spark, a.data))
              if (tracer.on) tracer.span("plan", "operators")(df.queryExecution.executedPlan)
              tracer.span("exec", "operators")(df.write.format("noop").mode("overwrite").save())
              true
            } catch { case NonFatal(e) =>
              notes.add(s"$q: drain failed in pass ${passWalls.size + 1}: $e")
              false
            }
          }
        }
        if (!ok) failedN.incrementAndGet()
        queryWalls(q) += (System.nanoTime() - q0) / 1e9
      }
      passWalls += (System.nanoTime() - p0) / 1e9
    }

    var kernelResults = Seq.empty[Kernels.Result]
    val layers: Map[String, Double] =
      if (!tracer.on) Map.empty
      else {
        val byName = tracer.spans.filter(_.layer == "operators").groupBy(_.name)
          .map { case (n, ss) => n -> ss.map(_.durNs).sum / 1e6 / passes }
        Jobs.drainListenerBus(spark)
        val lst = ctx.listener.get.totals(_.startsWith("perfbench/timed/"))
        val perPass = lst.map { case (k, v) =>
          s"operators.$k" -> (if (k == "peak_exec_mem_bytes") v else v / passes) }
        kernelResults = if (workload == "corpus_drain") Kernels.run(ctx) else Nil
        attemptedN.addAndGet(kernelResults.size.toLong)
        kernelResults.filter(_.nsPerRow.isNaN).foreach(k => fail(s"${k.kernel}: kernel microbench failed"))
        val kernels = kernelResults.map(k => s"functions.${k.kernel}.ns_per_row" -> k.nsPerRow)
        perPass ++ kernels ++ Map(
          "operators.construct_ms" -> byName.getOrElse("construct", 0.0),
          "operators.plan_ms" -> byName.getOrElse("plan", 0.0),
          "operators.exec_ms" -> byName.getOrElse("exec", 0.0),
          "operators.rows_out" -> names.flatMap(q => checked(q)._1.map(_._1)).sum.toDouble,
          "operators.memo_served" -> names.count(q => memo(q).nonEmpty).toDouble,
          "sources.store_build_s" -> storeBuildS)
      }

    val perQuery = names.map { q =>
      val (digest, _, _, kern) = checked(q)
      q -> Json.obj(
        "setup_construct_s" -> setup(q).seconds,
        "timed_s_median" -> Stats.median(queryWalls(q).toSeq),
        "rows" -> digest.map(_._1), "digest" -> digest.map(_._2),
        "reference_ok" -> digest.exists(d => refs.get(q).contains(d)),
        "kernels" -> kern.toSeq.sorted,
        "memo_served" -> memo(q).nonEmpty, "memo" -> memo(q))
    }
    Outcome(
      wallS = Stats.median(passWalls.toSeq),
      attempted = attemptedN.get, failed = failedN.get, layers = layers,
      record = Seq(
        "passes" -> passWalls.toSeq, "queries" -> names,
        "store_build_s" -> storeBuildS,
        "partition_problems" -> partitionProblems,
        "per_query" -> Json.obj(perQuery: _*),
        "kernels" -> Json.obj(kernelResults.map(k => k.kernel -> Json.obj(
          "ns_per_row" -> k.nsPerRow, "baseline_spread_ns_per_row" -> k.noiseNsPerRow,
          "rows" -> k.rows, "resolved" -> k.resolved)): _*),
        "notes" -> notes.asScala.toSeq))
  }
}
