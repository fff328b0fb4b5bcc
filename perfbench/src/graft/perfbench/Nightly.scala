package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lifecycle.{Lifecycle, Maintenance, RunStatus, Sleeper, SystemClock}
import graft.operators.{Dedup, Pipeline, Search, Similarity}
import graft.state.{BatchDependency, BatchMaster, ControlStore, MwStateStore}

/** One nightly run of a document estate, driven through [[Lifecycle]] by
  * at most nproc driver threads, modelled on ScaleCheck's maintenance DAG.
  * Modules: the daily gate (for a past control date, so it never sleeps),
  * a seeded document batch streamed into three stores (signatures,
  * postings, IVF), a seeded deletion request, the store compactions,
  * control-store checkpoint and vacuum, and a chain of two analytics
  * modules over the reference-parity queries, each writing its full
  * output to parquet. */
object Nightly {
  /** Reference-parity queries (CoreOps' inventory of the reference's
    * relational operators) with at most 10 output rows at sf0.1 and the
    * lowest drain times, so the analytics modules stay light next to the
    * store modules. */
  val ParityQueries: Seq[String] = Seq("q_in_list", "q_null_pred")
  val Chains = Seq("EAST")
  // the stores are bootstrapped over every fifth document and vector of
  // sf0.1 (1000 documents, 400 vectors); the night then streams a seeded
  // batch of new documents, about an eighth of that corpus, and forgets
  // about 5 %
  val CorpusStride = 5L
  val BatchDocs = 130       // seeded stream batch, one micro-batch
  val ForgetDocs = 60       // seeded deletion request over corpus and batch
  /** Longest real time one poll "second" of the dependency wait takes. */
  val PollQuantumMs = 10000L
  val NightDeadlineS = 120L

  private final case class Module(id: Long, name: String, kind: String, query: Option[String] = None)

  /** Sleeper for dependency polling. A waiting driver sleeps until some
    * module ends (nothing it polls can change before that) or the poll
    * quantum passes, so polls track module completions instead of
    * crowding the store modules. Counts polls and the time asleep per
    * thread, so envelope latency can exclude it, and refuses to wait past
    * the night's deadline (a wedged DAG fails instead of hanging). */
  private final class PollSleeper(deadlineNs: Long) extends Sleeper {
    val polls = new AtomicLong(0L)
    val sleptNs = new AtomicLong(0L)
    val threadSlept: ThreadLocal[Long] = ThreadLocal.withInitial(() => 0L)
    private val lock = new Object
    private var ended = 0L
    private val seen: ThreadLocal[Long] = ThreadLocal.withInitial(() => 0L)

    def moduleEnded(): Unit = lock.synchronized { ended += 1; lock.notifyAll() }

    /** Call when a driver starts a module: ends before this are old news. */
    def moduleStarted(): Unit = lock.synchronized { seen.set(ended) }

    def sleep(seconds: Long): Unit = {
      if (System.nanoTime() > deadlineNs) throw new IllegalStateException("nightly deadline passed")
      polls.incrementAndGet()
      val t0 = System.nanoTime()
      val until = t0 + seconds * PollQuantumMs * 1000000L
      lock.synchronized {
        var left = until - System.nanoTime()
        while (ended == seen.get && left > 0) {
          lock.wait(math.max(1L, left / 1000000L))
          left = until - System.nanoTime()
        }
        seen.set(ended)
      }
      val d = System.nanoTime() - t0
      sleptNs.addAndGet(d)
      threadSlept.set(threadSlept.get + d)
    }
  }

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
  }

  /** Seeded stream batch: new ids, texts recombined from corpus texts
    * (every tenth an exact copy, so the near-dup gate has work), random
    * unit vectors under the same ids. */
  private def seededBatch(spark: SparkSession, corpus: Array[(Long, String)], seed: Long,
      dim: Int): (Seq[(Long, String)], DataFrame) = {
    val rnd = new Random(seed)
    val docs = (0 until BatchDocs).map { i =>
      val id = 10000000L + i
      val a = corpus(rnd.nextInt(corpus.length))._2
      val text =
        if (i % 10 == 0) a
        else {
          val b = corpus(rnd.nextInt(corpus.length))._2.split(" ")
          rnd.shuffle((a.split(" ").take(20) ++ b.take(20)).toSeq).mkString(" ")
        }
      id -> text
    }
    val vecRows = docs.map { case (id, _) =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(id, v.map(x => (x / n).toFloat).toSeq)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    (docs, spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), schema))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val a = ctx.args
    val tracer = ctx.tracer
    val base = ctx.work("nightly")
    val (sig, idx, ivf) = (s"$base/signatures", s"$base/postings", s"$base/ivf")
    val ckpt = s"$base/ingest-ckpt"
    val outDir = s"$base/out"
    val storePaths = Seq(sig, idx, ivf)
    val stores = Pipeline.DocStores(signatures = Some(sig), vectors = Seq(ivf), postings = Some(idx))
    val registry = graft.SparkEntry.queries
    val refs = Reference.load(a.bench)
    val notes = new ConcurrentLinkedQueue[String]()
    val attempted = new AtomicLong(0L)
    val failed = new AtomicLong(0L)
    def fail(msg: String): Unit = {
      failed.incrementAndGet()
      notes.add(msg)
      Main.log(s"FAILED: ${msg.take(300)}")
    }

    // ---- set-up: bootstrap the stores over the corpus slice ----------------
    val docs = graft.sources.Tables.documents(spark, a.data).select("doc_id", "text")
      .filter(pmod(col("doc_id"), lit(CorpusStride)) === 0)
    val vecs = graft.sources.Tables.embeddings(spark, a.data).select("vec_id", "embedding")
      .filter(pmod(col("vec_id"), lit(CorpusStride)) === 0)
    Main.log("session ready")
    val corpus = docs.as[(Long, String)].collect()
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    val (batch, batchVecs) = seededBatch(spark, corpus, a.seed, dim)
    val batchDf = batch.toDF("doc_id", "text")
    val forgetDocs: Seq[(Long, String)] = {
      val rnd = new Random(a.seed * 31 + 7)
      rnd.shuffle(corpus.toIndexedSeq ++ batch).take(ForgetDocs).sortBy(_._1)
    }
    val forgetIds = forgetDocs.map(_._1)
    // the stores are independent: bootstrap them on nproc threads
    val builds: Seq[(String, () => Unit)] = Seq(
      "signatures" -> (() => Dedup.writeSignatures(Dedup.signaturesOf(docs), sig)),
      "postings" -> (() => Search.writeSearchIndexFrom(spark, docs, idx)),
      "ivf" -> (() => Similarity.writeIvfIndexFrom(spark, vecs, ivf)))
    val tBuild = System.nanoTime()
    val storeBuildS: Seq[(String, Double)] = Jobs.parallel(builds) { case (n, w) =>
      val t0 = System.nanoTime()
      tracer.span(s"bootstrap $n", "sources")(w())
      n -> (System.nanoTime() - t0) / 1e9
    }
    val bootstrapS = (System.nanoTime() - tBuild) / 1e9
    Main.log(f"bootstrapped ${builds.size} stores in $bootstrapS%.2f s: " +
      storeBuildS.map { case (n, s) => f"$n $s%.2f" }.mkString(", "))

    // ---- set-up: the control store and the DAG ---------------------------
    val rnd = new Random(a.seed)
    val controlDay = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(365).toLong)
    val controlDate = controlDay.format(java.time.format.DateTimeFormatter
      .ofPattern("dd-MMM-yyyy", java.util.Locale.ENGLISH)).toUpperCase
    val mw = new MwStateStore(spark, ctx.work("control"))
    val timedStore = if (tracer.on) Some(new TimedControlStore(mw, tracer)) else None
    val store: ControlStore = timedStore.getOrElse(mw)

    val ids = new AtomicInteger(100)
    def mod(name: String, kind: String, q: Option[String] = None) =
      Module(ids.incrementAndGet().toLong, name, kind, q)
    val gate = mod("DAILY000", "gate")
    val ingest = mod("NIGHT_INGEST", "ingest")
    val forget = mod("NIGHT_FORGET", "forget")
    val compactions = Seq("maint_compact_signatures", "maint_compact_search", "maint_compact_ivf")
      .map(q => mod("NIGHT_" + q.stripPrefix("maint_").toUpperCase, "compact", Some(q)))
    val chains: Seq[Seq[Module]] =
      Chains.zip(ParityQueries.grouped((ParityQueries.size + Chains.size - 1) / Chains.size).toSeq)
        .map { case (c, qs) =>
          qs.map(q => mod(s"AN_${c}_${q.stripPrefix("q_").toUpperCase}", "analytics", Some(q))) }
    val ctlMaint = mod("NIGHT_CTL_MAINT", "ctl")
    val edges: Seq[(Module, Module, String)] =
      // the stores take one writer at a time, so the deletion request
      // follows the ingest and the compactions follow both
      Seq((gate, ingest, "MANDATORY"), (ingest, forget, "MANDATORY")) ++
        compactions.map(c => (forget, c, "MANDATORY")) ++
        chains.flatMap(ch => (gate, ch.head, "MANDATORY") +:
          ch.sliding(2).map { case Seq(p, c) => (p, c, "WAIT") }.toSeq) ++
        compactions.map(c => (c, ctlMaint, "OPTIONAL")) ++
        chains.map(ch => (ch.last, ctlMaint, "OPTIONAL"))
    // driver order is topological; analytics interleave with the store
    // modules so every driver thread has work while the store chain runs
    val storeModules = Seq(ingest, forget) ++ compactions
    val interleaved = chains.transpose.map(_.toSeq)
    val order: Seq[Module] = gate +: (interleaved.zipAll(storeModules.map(Seq(_)), Nil, Nil)
      .flatMap { case (an, st) => st ++ an }) :+ ctlMaint
    val modules = order
    require(modules.map(_.id).distinct.size == modules.size)

    mw.putBatchMaster(modules.map(m => BatchMaster(m.id, m.name, 1L, Some("NIGHT"), None)))
    mw.putDependencies(edges.map { case (p, c, t) => BatchDependency(p.id, c.id, t) })
    mw.updEnv("BATCH_CONTROL_DATE", controlDate)
    val maint = Maintenance.moduleRegistry(
      Maintenance.StoreLayout(searchIndex = Some((idx, 0L)), signatureStore = Some(sig),
        ivfIndex = Some(ivf)),
      ingestCheckpoint = Some(ckpt))

    // ---- the timed night ---------------------------------------------------
    val startupMs, endupMs, envelopeMs, ingestBatchMs, sinkWriteMs = new ConcurrentLinkedQueue[Double]()
    val forgetMs, compactMs = new AtomicLong(0L)
    val sinkBytes, sinkRows = new AtomicLong(0L)
    val (ckptMs, vacuumMs) = (new AtomicLong(0L), new AtomicLong(0L))
    val gateMs = new AtomicLong(0L)
    val outputs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val deadline = System.nanoTime() + NightDeadlineS * 1000000000L
    val sleeper = new PollSleeper(deadline)
    val lc = new Lifecycle(store, SystemClock, sleeper, pollSeconds = 1L)

    def sink(df: DataFrame, name: String): Long = {
      val path = s"$outDir/$name"
      val t0 = System.nanoTime()
      tracer.span("sink", "sources")(df.write.mode("overwrite").parquet(path))
      sinkWriteMs.add((System.nanoTime() - t0) / 1e6)
      sinkBytes.addAndGet(dirBytes(path))
      outputs.put(name, path)
      val rows = spark.read.parquet(path).count()
      sinkRows.addAndGet(rows)
      rows
    }

    def work(m: Module): Long = m.kind match {
      case "ingest" =>
        implicit val sqlCtx = spark.sqlContext
        val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
        val q = tracer.span("ingestDocStream", "streaming") {
          graft.streaming.EventStreams.ingestDocStream(input.toDF().toDF("doc_id", "text"), stores,
            ckpt, vectorsFor = b => Some(batchVecs.join(
              b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
        }
        try {
          val t0 = System.nanoTime()
          tracer.span("micro-batch", "streaming") { input.addData(batch); q.processAllAvailable() }
          ingestBatchMs.add((System.nanoTime() - t0) / 1e6)
        } finally q.stop()
        batch.size.toLong
      case "forget" =>
        val t0 = System.nanoTime()
        tracer.span("forgetDocs", "sources")(
          Pipeline.forgetDocs(spark, stores, forgetDocs.toDF("doc_id", "text")))
        forgetMs.addAndGet((System.nanoTime() - t0) / 1000000L)
        forgetIds.size.toLong
      case "compact" =>
        // the read-back of the compacted store is drained, not stored again
        val t0 = System.nanoTime()
        val df = tracer.span(m.query.get, "sources")(maint(m.query.get)(spark, a.data))
        compactMs.addAndGet((System.nanoTime() - t0) / 1000000L)
        tracer.span("drain", "operators")(df.write.format("noop").mode("overwrite").save())
        -1L
      case "analytics" =>
        val df = tracer.span("construct", "operators")(registry(m.query.get)(spark, a.data))
        sink(df, m.name)
      case "ctl" =>
        val t0 = System.nanoTime()
        tracer.span("checkpoint", "state")(mw.checkpoint())
        val t1 = System.nanoTime()
        tracer.span("vacuum", "state")(mw.vacuum())
        ckptMs.addAndGet((t1 - t0) / 1000000L)
        vacuumMs.addAndGet((System.nanoTime() - t1) / 1000000L)
        1L
    }

    def runModule(m: Module): Unit = {
      val tr = tracer.newTrace()
      sleeper.moduleStarted()
      try runModuleBody(m, tr) finally sleeper.moduleEnded()
    }

    def runModuleBody(m: Module, tr: Int): Unit = {
      Jobs.withGroup(spark, Jobs.group("module", tr, m.name)) {
        tracer.span(m.name, "job", tr) {
          attempted.incrementAndGet()
          Main.log(s"module ${m.name} begins")
          if (m.kind == "gate") {
            val t0 = System.nanoTime()
            val rc = tracer.span("dailyGate", "lifecycle")(lc.dailyGate(controlDate, "D", exclusiveRun = true))
            gateMs.addAndGet((System.nanoTime() - t0) / 1000000L)
            if (rc != 0) fail(s"${m.name}: daily gate returned $rc")
          } else {
            sleeper.threadSlept.set(0L)
            val t0 = System.nanoTime()
            attempted.incrementAndGet()
            val started: Either[String, graft.lifecycle.BatchContext] =
              tracer.span("startup", "lifecycle") {
                try lc.startup(m.name, exclusiveRun = true).left.map(_.toString)
                catch { case NonFatal(e) => Left(e.toString) }
              }
            val ms = (System.nanoTime() - t0 - sleeper.threadSlept.get) / 1e6
            startupMs.add(ms); envelopeMs.add(ms)
            started match {
              case Left(err) => fail(s"${m.name}: startup refused: $err")
              case Right(runCtx) =>
                val (status, rows) =
                  try (RunStatus.Success, work(m))
                  catch { case NonFatal(e) =>
                    fail(s"${m.name}: module failed: $e"); (RunStatus.Failure, 0L)
                  }
                attempted.incrementAndGet()
                val t1 = System.nanoTime()
                val closed = tracer.span("endup", "lifecycle") {
                  try lc.endup(runCtx, status, Some(rows).filter(_ >= 0), Some(0L))
                  catch { case NonFatal(e) => notes.add(s"${m.name}: endup threw $e"); false }
                }
                val ems = (System.nanoTime() - t1) / 1e6
                endupMs.add(ems); envelopeMs.add(ems)
                if (!closed) fail(s"${m.name}: endup did not close the run")
                Main.log(f"module ${m.name} ${status}: startup $ms%.0f ms, endup $ems%.0f ms")
            }
          }
        }
      }
    }

    ctx.markTimedStart()
    val t0 = System.nanoTime()
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Module](modules.asJava)
    val pool = Executors.newFixedThreadPool(Main.nproc)
    val drivers = (1 to Main.nproc).map(_ => pool.submit(new Runnable {
      def run(): Unit = {
        var m = queue.poll()
        while (m != null) { runModule(m); m = queue.poll() }
      }
    }))
    drivers.foreach(_.get())
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    val wallS = (System.nanoTime() - t0) / 1e9
    Main.log(f"night done in $wallS%.2f s")

    // ---- checks (untimed) ---------------------------------------------------
    val forgotten = forgetIds.toDF("doc_id")
    val survivors = docs.unionByName(batchDf).join(forgotten, Seq("doc_id"), "left_anti")
    val survivorVecIds = vecs.select("vec_id").unionByName(batchVecs.select("vec_id"))
      .join(forgotten.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .as[Long].collect().sorted.toSeq
    val runs = mw.monitorState
      .filter(to_date(col("control_date")) === lit(java.sql.Date.valueOf(controlDay)))
      .select("module_id", "run_id", "run_status").as[(Long, Long, String)].collect()
      .groupBy(_._1)
    val checks: Seq[(String, () => Boolean)] = Seq(
      // each store's read face equals the same face computed in one shot
      // over the surviving corpus
      "signatures = one-shot over survivors" -> (() => {
        val oneShot = Dedup.signaturesOf(survivors)
        Checksum.of(spark.read.parquet(sig).select(oneShot.columns.map(col): _*)) == Checksum.of(oneShot)
      }),
      "postings = one-shot bm25 over survivors" -> (() => {
        val hits = Search.probeSearchIndex(spark, idx, Search.QueryTerms)
          .select("doc_id", "dl", "word", "tf")
        Checksum.of(Search.scoreBm25(hits, Search.searchStats(spark, idx))) ==
          Checksum.of(Search.bm25(survivors))
      }),
      "ivf holds exactly the surviving vectors" -> (() =>
        spark.read.parquet(ivf).select("vec_id").as[Long].collect().sorted.toSeq == survivorVecIds)) ++
      // exactly one SUCCESS run per module for the control date, and each
      // module's run ids for the day contiguous from 1
      modules.map { m =>
        s"${m.name}: one SUCCESS run, contiguous run ids" -> (() => {
          val rs = runs.getOrElse(m.id, Array.empty)
          val runIds = rs.map(_._2).filter(_ > 0).sorted.toSeq
          rs.count(_._3 == RunStatus.Success) == 1 && runIds == (1L to runIds.size.toLong)
        })
      } ++
      // analytics outputs match the reference digests of their queries
      chains.flatten.map { m =>
        s"${m.name}: output matches reference ${m.query.get}" -> (() =>
          Option(outputs.get(m.name)).exists(p =>
            refs.get(m.query.get).contains(Checksum.of(spark.read.parquet(p)))))
      }
    Jobs.parallel(checks) { case (name, ok) =>
      attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try { if (!ok()) fail(s"check $name failed") }
      catch { case NonFatal(e) => fail(s"check $name threw $e") }
      Main.log(f"check $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    Main.log(s"${checks.size} checks done")

    val layers: Map[String, Double] =
      if (!tracer.on) Map.empty
      else {
        Jobs.drainListenerBus(spark)
        val lst = ctx.listener.get.totals(_.startsWith("perfbench/module/"))
        val ts = timedStore.get
        def p(xs: java.util.Collection[Double], q: Double): Double =
          if (xs.isEmpty) 0.0 else Stats.quantile(xs.asScala.toSeq, q)
        val opSpans = tracer.spans.filter(s => s.layer == "operators")
        lst.map { case (k, v) => s"operators.$k" -> v } ++ Map(
          "operators.construct_ms" -> opSpans.map(_.durNs).sum / 1e6,
          "operators.rows_out" -> sinkRows.get.toDouble,
          "sources.store_build_s" -> bootstrapS,
          "sources.sink_write_ms" -> sinkWriteMs.asScala.sum,
          "sources.sink_bytes" -> sinkBytes.get.toDouble,
          "sources.forget_ms" -> forgetMs.get.toDouble,
          "sources.compact_ms" -> compactMs.get.toDouble,
          "sources.store_bytes" -> storePaths.map(dirBytes).sum.toDouble,
          "streaming.ingest_batch_ms" -> p(ingestBatchMs, 0.5),
          "state.write_p50_ms" -> p(ts.writesMs, 0.5),
          "state.write_p95_ms" -> p(ts.writesMs, 0.95),
          "state.read_p50_ms" -> p(ts.readsMs, 0.5),
          "state.read_p95_ms" -> p(ts.readsMs, 0.95),
          "state.calls" -> ts.calls.toDouble,
          "state.checkpoint_ms" -> ckptMs.get.toDouble,
          "state.vacuum_ms" -> vacuumMs.get.toDouble,
          "state.log_versions" -> mw.version.toDouble,
          "state.log_bytes" -> dirBytes(mw.dir).toDouble,
          "lifecycle.envelope_p50_ms" -> p(envelopeMs, 0.5),
          "lifecycle.envelope_p95_ms" -> p(envelopeMs, 0.95),
          "lifecycle.envelope_calls" -> envelopeMs.size.toDouble,
          "lifecycle.startup_p50_ms" -> p(startupMs, 0.5),
          "lifecycle.startup_p95_ms" -> p(startupMs, 0.95),
          "lifecycle.endup_p50_ms" -> p(endupMs, 0.5),
          "lifecycle.endup_p95_ms" -> p(endupMs, 0.95),
          "lifecycle.dep_polls" -> sleeper.polls.get.toDouble,
          "lifecycle.dep_wait_ms" -> sleeper.sleptNs.get / 1e6,
          "lifecycle.daily_gate_ms" -> gateMs.get.toDouble)
      }
    Outcome(wallS, attempted.get, failed.get, layers, Seq(
      "control_date" -> controlDate,
      "modules" -> modules.size,
      "envelope_calls" -> envelopeMs.size,
      "envelope_p50_ms" -> Stats.quantile(envelopeMs.asScala.toSeq, 0.5),
      "envelope_p95_ms" -> Stats.quantile(envelopeMs.asScala.toSeq, 0.95),
      "dep_polls" -> sleeper.polls.get,
      "dep_wait_ms" -> sleeper.sleptNs.get / 1e6,
      "store_build_s" -> bootstrapS,
      "store_build_s_each" -> Json.obj(storeBuildS: _*),
      "notes" -> notes.asScala.toSeq))
  }
}
