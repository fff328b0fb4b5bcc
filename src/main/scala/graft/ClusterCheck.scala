package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

/** The real-executor-boundary proof (r17 verdict item 1, its top-next):
  * 17 rounds of local[32] ran every closure the engine ships —
  * the MediaCodec seam, the PQ codebook / IVF quantizer reference
  * objects inside `graft_pq_encode`/`graft_ivf_scores`, the
  * `graft_topk`/`graft_mg` aggregation buffers, the BPE merge-table
  * typedLit, every flatMapGroupsWithState state class — inside ONE JVM,
  * where "serializes across the wire" is never actually exercised
  * end-to-end in a live plan (TopKBufSpec/MgBufSpec prove buffer
  * round-trips in isolation; this proves the WHOLE PLAN ships).
  *
  * `local-cluster[2,2,2048]` is Spark's own standalone-cluster test
  * mode: a real Master + 2 Workers in the driver JVM, but the 2
  * EXECUTORS are separate OS processes launched from SPARK_HOME,
  * reached over real RPC — task binaries, broadcast variables,
  * accumulator/aggregate buffers and shuffle blocks all cross a
  * process boundary exactly as on a 1000-executor cluster. Any
  * closure capturing a non-serializable object, any executor-side
  * ClassNotFound, any buffer whose Kryo/Java round-trip was never
  * real, fails HERE instead of on the first deployment.
  *
  * What runs, in three phases:
  *  1. the FULL oracle-gated registry ([[SparkEntry.queries]]) at
  *     sf0.01, each query drained in full ([[Runner.drain]]: every row
  *     and column, so no closure is pruned before it ships) — every
  *     operator's plan executes on out-of-process executors; completion
  *     + nonzero rows per query is the gate (value-correctness is the
  *     DuckDB differential over Verify's dump; THIS gate is "the plan
  *     ships");
  *  2. the stateful streaming twins (sessionizer, MG heavy hitters,
  *     anomaly, SCD2) over MemoryStream micro-batches — HDFS-backed
  *     state store providers live on the executors, so state class
  *     (de)serialization and cross-batch state recovery cross the
  *     boundary; the sessionizer additionally proves CHECKPOINT
  *     RESTART (kill the query, deliver more data, resume from the
  *     same checkpoint — the counter must continue, not reset);
  *  3. the five-store ingest estate: [[graft.streaming.EventStreams
  *     .ingestDocStream]] from a durable file source, stopped after
  *     batch 1 (the "crash") and RESUMED from its checkpoint for
  *     batch 2 — foreachBatch writer protocols, store swaps and the
  *     replay contract under a real executor boundary; the signature
  *     store must hold every doc exactly once afterwards.
  *
  * Run: `sbt "runMain graft.ClusterCheck"` (the forked JVM's own
  * classpath is handed to the executors — engine classes + Spark
  * jars, exactly what a deployed executor sees). Env knobs:
  *   SPARK_GRAFT_SF_DIR          dataset (default /root/testdata/sf0.01)
  *   SPARK_GRAFT_CLUSTER_MASTER  master override (default local-cluster[2,2,2048])
  *   SPARK_GRAFT_CLUSTER_ONLY    comma list to restrict phase 1 (dev loops;
  *                               full runs also drive phases 2-3)
  * Prints ONE JSON line `{"metric":"cluster_check",...}`; recorded in
  * BASELINE.md per round.
  */
object ClusterCheck {

  /** build.sbt's JDK-17 add-opens, replicated for the executor JVMs:
    * spark-submit injects these via JavaModuleOptions, but executors
    * launched by the in-process Workers take ours from
    * spark.executor.extraJavaOptions (setting them is harmless where
    * the launcher already does). */
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  def main(args: Array[String]): Unit = {
    // Timed tier (r18 verdict item 4): PRICE the boundary, don't just
    // prove it — the correctness phases run at sf0.01 where wall time is
    // meaningless; this mode runs the top-10 floor-table queries at the
    // floors' own scale (sf0.1) under the cluster master, so
    // serialization/RPC/boundary overhead gets a measured cost next to
    // the local[32] floors (the number a deployment sizing a real
    // cluster starts from).
    val timed = sys.env.get("SPARK_GRAFT_CLUSTER_TIMED")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (timed) "/root/testdata/sf0.1" else "/root/testdata/sf0.01")
    val master = sys.env.getOrElse("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,2,2048]")
    val only = Runner.only("SPARK_GRAFT_CLUSTER_ONLY")
    // 8 shuffle partitions for 4 total executor cores: 200 (or 32) would
    // be pure task-launch overhead across a real RPC boundary. The forked
    // runMain JVM's classpath = engine classes + Spark jars; executors
    // are separate processes and see ONLY what this hands them — which
    // is the point.
    val spark = Runner.session(master, "8",
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.extraJavaOptions" -> jdk17AddOpens)
    require(spark.sparkContext.master == master, s"not on $master")

    if (timed) { timedTier(spark, sfDir, master); spark.stop(); return }

    // ---- phase 1: the full oracle-gated registry --------------------
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val t0 = System.nanoTime()
    val results = names.map { n =>
      val r = Runner.timed(spark, n, s"graft cluster: $n")(Runner.drain(SparkEntry.queries(n)(spark, sfDir)))
      r.rows match {
        case Right(c) => System.err.println(f"[cluster] $n%-24s $c%8d rows ${r.sec}%7.2f s")
        case Left(_) => System.err.println(f"[cluster] $n%-24s FAILED: ${r.error}")
      }
      n -> r
    }
    val registrySec = (System.nanoTime() - t0) / 1e9
    val failed = results.collect { case (n, r) if !r.ok => (n, r.error) }
    // q_anti is genuinely empty at sf0.01 — the DuckDB oracle returns 0
    // rows too (CORRECTNESS_r17: spark_rows=0, oracle_rows=0, hashes
    // match), so an empty anti join is the CORRECT answer, not a
    // missing-input symptom; its plan still executed on the executors.
    val knownZero = Set("q_anti")
    val zeroRows = results.collect { case (n, Runner.Run(_, Right(0L))) if !knownZero(n) => n }

    // ---- phases 2+3 (skipped under a dev-subset ONLY, like Bench) ---
    val streaming: Map[String, String] =
      if (only.nonEmpty) Map.empty
      else {
        val b = scala.collection.mutable.LinkedHashMap.empty[String, String]
        def phase(name: String)(body: => Unit): Unit = {
          val t = System.nanoTime()
          try { body; b(name) = "ok" }
          catch { case scala.util.control.NonFatal(e) =>
            b(name) = s"FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          }
          System.err.println(f"[cluster] streaming/$name%-22s ${b(name)} ${(System.nanoTime() - t) / 1e9}%6.2f s")
        }
        runStatefulTwins(spark, phase)
        runIngestEstate(spark, sfDir, phase)
        b.toMap
      }

    val ok = failed.isEmpty && zeroRows.isEmpty &&
      streaming.values.forall(_ == "ok")
    def ja(xs: Seq[String]) = xs.map(s => "\"" + s.replace("\"", "'") + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"cluster_check","master":"$master","sf":"$sfDir",""" +
      s""""queries_total":${names.size},"queries_failed":${ja(failed.map { case (n, m) => s"$n: $m" })},""" +
      s""""zero_rows":${ja(zeroRows)},"registry_sec":${"%.1f".formatLocal(java.util.Locale.ROOT, registrySec)},""" +
      s""""streaming":${streaming.map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }.mkString("{", ",", "}")},""" +
      s""""ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The timed tier: top-10 floor-table queries at the floors' own scale
    * under the cluster master, Bench's honesty rules applied (clearCache
    * per rep, min over successful reps, q_dedup_clusters single-shot
    * because its converged stage memoizes per (session, dir), warmup at
    * the sf0.001 sibling so the first measured query reports its own
    * work and not executor-side JIT/classloading — which is FAR heavier
    * here than under local[32]: each executor process loads the engine +
    * Spark classes from scratch). Selection is dynamic from the recorded
    * floor table so the tier keeps following the most expensive queries
    * as floors move between rounds. */
  private def timedTier(spark: SparkSession, sfDir: String, master: String): Unit = {
    val floors: Map[String, Double] = Bench.loadFloors()
      .getOrElse(sys.error("no bench_floors.json resource — the timed tier compares against floors"))
    val top = floors.filter { case (n, _) => SparkEntry.queries.contains(n) }
      .toSeq.sortBy(-_._2).take(10).map(_._1).sorted
    System.err.println(s"[cluster-timed] top-10 by floor: ${top.mkString(", ")}")
    // count(), warm-up and timed runs alike: the figures are compared
    // against the count-based floor table
    Runner.warmup(spark, sfDir, top, "cluster-timed")(_.count())
    def measureOnce(n: String): Runner.Run = {
      val r = Runner.timed(spark, n, s"graft cluster timed: $n")(SparkEntry.queries(n)(spark, sfDir).count())
      if (!r.ok) System.err.println(s"[cluster-timed] $n FAILED: ${r.error}")
      r
    }
    val results = top.map { n =>
      val r = Runner.best(Seq.fill(if (n == "q_dedup_clusters") 1 else 2)(measureOnce(n)))
      val ratio = r.sec / floors(n)
      System.err.println(f"[cluster-timed] $n%-24s ${r.sec}%8.3f s  floor ${floors(n)}%6.3f s  x$ratio%5.2f")
      (n, r.sec, ratio, r.ok)
    }
    val ok = results.forall(_._4)
    def jm(f: ((String, Double, Double, Boolean)) => Double) =
      results.map(r => s""""${r._1}":${"%.3f".formatLocal(java.util.Locale.ROOT, f(r))}""").mkString("{", ",", "}")
    println(s"""{"metric":"cluster_timed","master":"$master","sf":"$sfDir",""" +
      s""""queries":${jm(_._2)},"floors":${jm(r => floors(r._1))},"ratios":${jm(_._3)},""" +
      s""""total_sec":${"%.3f".formatLocal(java.util.Locale.ROOT, results.map(_._2).sum)},"ok":$ok}""")
    if (!ok) { spark.stop(); sys.exit(1) }
  }

  /** Phase 2: the four flatMapGroupsWithState twins, state providers on
    * real executors, plus the sessionizer's checkpoint kill-and-resume. */
  private def runStatefulTwins(spark: SparkSession,
      phase: String => (=> Unit) => Unit): Unit = {
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.{AnomalyEvent, SessionEvent, TokenEvent, TypedEvent}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    phase("sessionize_mem") {
      val in = MemoryStream[SessionEvent]
      val q = EventStreams.sessionizeStateful(in.toDS()).toDF()
        .writeStream.format("memory").queryName("cc_sess")
        .outputMode("append").start()
      try {
        in.addData(SessionEvent(1, 1, ts("2026-08-12T10:00:00Z")),
          SessionEvent(1, 2, ts("2026-08-12T10:10:00Z")))
        q.processAllAvailable()
        in.addData(SessionEvent(1, 3, ts("2026-08-12T10:20:00Z")),
          SessionEvent(1, 4, ts("2026-08-12T12:30:00Z")))
        q.processAllAvailable()
        val got = spark.table("cc_sess").orderBy("event_id")
          .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
        require(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L)),
          s"sessionizer state must cross micro-batches on executors, got $got")
      } finally q.stop()
    }

    phase("heavy_hitters_mem") {
      val in = MemoryStream[TokenEvent]
      val q = EventStreams.heavyHittersStateful(in.toDS(), capacity = 4).toDF()
        .writeStream.format("memory").queryName("cc_hh")
        .outputMode("update").start()
      try {
        in.addData(Seq("a", "a", "b", "c").zipWithIndex.map { case (w, i) => TokenEvent("en", w, i.toLong) }: _*)
        q.processAllAvailable()
        in.addData(Seq("a", "d", "d").zipWithIndex.map { case (w, i) => TokenEvent("en", w, 10L + i) }: _*)
        q.processAllAvailable()
        // the MG buffer crossed the boundary twice (state in, state out):
        // 'a' (freq 3) must be present with floor >= 2
        val a = spark.table("cc_hh").filter($"word" === "a")
          .agg(org.apache.spark.sql.functions.max("freq_floor")).head.getLong(0)
        require(a >= 2L, s"MG counter for 'a' must survive the batch boundary, floor=$a")
      } finally q.stop()
    }

    phase("anomaly_mem") {
      val in = MemoryStream[AnomalyEvent]
      val q = EventStreams.anomalyStateful(in.toDS()).toDF()
        .writeStream.format("memory").queryName("cc_anom")
        .outputMode("append").start()
      try {
        val base = (0 until 30).map(h =>
          AnomalyEvent("click", ts(f"2026-08-10T${h % 24}%02d:00:00Z")))
        in.addData(base: _*); q.processAllAvailable()
        in.addData((0 until 50).map(_ => AnomalyEvent("click", ts("2026-08-11T07:00:00Z"))): _*)
        q.processAllAvailable()
        require(spark.table("cc_anom").count() > 0, "anomaly twin must emit verdicts")
      } finally q.stop()
    }

    phase("scd2_mem") {
      val in = MemoryStream[TypedEvent]
      val q = EventStreams.scd2Stateful(in.toDS()).toDF()
        .writeStream.format("memory").queryName("cc_scd2")
        .outputMode("append").start()
      try {
        in.addData(TypedEvent(7, "bronze", ts("2026-08-12T09:00:00Z"), 1))
        q.processAllAvailable()
        in.addData(TypedEvent(7, "silver", ts("2026-08-12T11:00:00Z"), 2),
          TypedEvent(7, "gold", ts("2026-08-12T13:00:00Z"), 3))
        q.processAllAvailable()
        val closed = spark.table("cc_scd2").orderBy("version")
          .collect().map(_.getString(1)).toSeq
        require(closed == Seq("bronze", "silver"),
          s"SCD2 must close bronze then silver across the boundary, got $closed")
      } finally q.stop()
    }

    phase("sessionize_restart") {
      // durable source + sink + checkpoint; query killed between
      // batches — per-user state must RESUME from the executor-written
      // checkpoint, not reset (the cluster-deployment recovery path)
      val tmp = java.nio.file.Files.createTempDirectory("graft-cc-recover").toString
      val (srcDir, outDir, ckptDir) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
      val batch1 = Seq(
        SessionEvent(3, 20, ts("2026-08-12T08:00:00Z")),
        SessionEvent(3, 21, ts("2026-08-12T09:30:00Z")),
        SessionEvent(1, 1, ts("2026-08-12T10:00:00Z")),
        SessionEvent(1, 2, ts("2026-08-12T10:10:00Z")))
      val batch2 = Seq(
        SessionEvent(1, 3, ts("2026-08-12T10:20:00Z")),
        SessionEvent(3, 22, ts("2026-08-12T10:30:00Z")),
        SessionEvent(1, 4, ts("2026-08-12T12:30:00Z")))
      def run(data: Seq[SessionEvent]): Unit = {
        data.toDS().toDF().write.mode("append").parquet(srcDir)
        val src = spark.readStream.schema(batch1.toDS().toDF().schema)
          .parquet(srcDir).as[SessionEvent]
        val q = EventStreams.sessionizeStateful(src).toDF()
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination(180000) finally q.stop()
      }
      run(batch1)
      run(batch2)
      val got = spark.read.parquet(outDir)
        .select("user_id", "event_id", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      require(got.contains((3L, 22L, 3L)),
        "u3's session counter must resume at 3 after the restart — a reset would say 1")
      require(got.contains((1L, 4L, 2L)), s"u1's second session missing: $got")
    }
  }

  /** Phase 3: the five-store ingest estate from a durable file source,
    * killed after batch 1 and resumed from its checkpoint — the
    * foreachBatch writer protocols under a real executor boundary. */
  private def runIngestEstate(spark: SparkSession, sfDir: String,
      phase: String => (=> Unit) => Unit): Unit = {
    import org.apache.spark.sql.functions._
    phase("ingest_estate_restart") {
      val base = java.nio.file.Files.createTempDirectory("graft-cc-estate").toString
      val (sig, idx, lm, nb, ann) = (s"$base/sig", s"$base/idx", s"$base/lm", s"$base/nb", s"$base/ann")
      val stores = graft.operators.Pipeline.DocStores(
        Some(sig), Seq(ann), Some(idx), Some(lm), Some(nb))
      val docs = graft.sources.Tables.documents(spark, sfDir)
        .select("doc_id", "text").filter(pmod(col("doc_id"), lit(13L)) === 4)
      val vecs = graft.sources.Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding")
      val total = docs.count()
      require(total > 0, s"no docs selected from $sfDir")
      // bootstrap over the first half; the stream delivers the rest
      val streamed = pmod(col("doc_id"), lit(2L)) === 1
      graft.operators.Dedup.writeSignatures(
        graft.operators.Dedup.signaturesOf(docs.filter(!streamed)), sig)
      graft.operators.Search.writeSearchIndexFrom(spark, docs.filter(!streamed), idx)
      graft.operators.TextOps.writeLmModel(spark, docs.filter(!streamed), lm)
      graft.operators.TextOps.writeNbModel(spark, docs.filter(!streamed), nb)
      graft.operators.Similarity.writeAnnIndexFrom(spark,
        vecs.join(docs.filter(!streamed).select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"), ann)
      val (srcDir, ckptDir) = (s"$base/src", s"$base/ckpt")
      val streamDocs = docs.filter(streamed).collect()
      val half = streamDocs.length / 2 max 1
      def run(rows: Array[org.apache.spark.sql.Row]): Unit = {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), docs.schema)
          .write.mode("append").parquet(srcDir)
        val src = spark.readStream.schema(docs.schema).parquet(srcDir)
        val q = graft.streaming.EventStreams.ingestDocStream(src, stores, ckptDir,
          vectorsFor = b => Some(vecs.join(
            b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
        try {
          q.processAllAvailable()
        } finally q.stop()
      }
      run(streamDocs.take(half))           // batch 1, then the "crash"
      run(streamDocs.drop(half))           // restart from the checkpoint
      val sigDocs = spark.read.parquet(sig).select("doc_id").distinct().count()
      require(sigDocs == total,
        s"signature store must hold every doc exactly once after the resumed ingest: $sigDocs != $total")
      val annRows = spark.read.parquet(ann).select("vec_id").distinct().count()
      val vecTotal = vecs.join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .count()
      require(annRows == vecTotal,
        s"ANN store must hold every vector exactly once: $annRows != $vecTotal")
    }
  }
}
