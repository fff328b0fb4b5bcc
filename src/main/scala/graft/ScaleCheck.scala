package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off sf1 scale spot-check (not part of the driver contract).
  *
  * Every scale claim in SURVEY §9 is a plan-shape claim verified at
  * sf0.1; this main is the cheapest off-paper evidence that those claims
  * hold under a real 10× scale-up: it materializes an sf1 dataset
  * (10× sf0.1, ~6M lineitem rows), runs the most expensive bench queries
  * at both scales, and reports the per-query time ratio plus whether the
  * physical plan flipped shape (join strategy / exchange count) between
  * scales. Near-linear ratios (~10× work on 32 cores ⇒ wall ratio well
  * under 10 for scan-bound queries, around data-ratio for shuffle-bound
  * ones) and no plan flips are the pass condition; results are recorded
  * in BASELINE.md.
  *
  * sf1 construction: the driver's testdata is read-only and capped at
  * sf0.1, so sf1 is DERIVED from sf0.1 by unioning 10 key-shifted copies
  * — every key/foreign-key column is offset by a per-copy constant, so
  * referential integrity holds within each copy and the join/graph
  * structure is exactly 10 disjoint replicas (the honest analogue of a
  * date-partitioned corpus growing 10×). Content columns are left as-is:
  * for the self-join operators (near-dup, banded Hamming) the replicas
  * form constant-size duplicate groups, so candidate-pair volume stays
  * LINEAR in corpus size — a legitimately duplicated corpus, which is
  * itself the realistic 100-TB shape these operators must survive.
  *
  * Run: `sbt "runMain graft.ScaleCheck"`; env knobs:
  *   SPARK_GRAFT_SF_DIR    base dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SF1_DIR   derived dir (default /root/repo/tmp/sf1)
  *   SPARK_GRAFT_SCALE_ONLY comma list to restrict the query sweep
  */
object ScaleCheck {
  /** Key columns to shift per replica: (column, perCopyOffset). Long keys
    * get a 1e12 stride (far above any sf0.1 key, far below 2^63/10);
    * int32 dim keys get 1e6.
    */
  private val keyShifts: Map[String, Seq[(String, Long)]] = Map(
    "region"     -> Seq("r_regionkey" -> 1000000L),
    "nation"     -> Seq("n_nationkey" -> 1000000L, "n_regionkey" -> 1000000L),
    "customer"   -> Seq("c_custkey" -> 1000000000000L, "c_nationkey" -> 1000000L),
    "supplier"   -> Seq("s_suppkey" -> 1000000000000L, "s_nationkey" -> 1000000L),
    "part"       -> Seq("p_partkey" -> 1000000000000L),
    "orders"     -> Seq("o_orderkey" -> 1000000000000L, "o_custkey" -> 1000000000000L),
    "lineitem"   -> Seq("l_orderkey" -> 1000000000000L, "l_partkey" -> 1000000000000L,
                        "l_suppkey" -> 1000000000000L),
    "events"     -> Seq("event_id" -> 1000000000000L, "user_id" -> 1000000000000L),
    "documents"  -> Seq("doc_id" -> 1000000000000L),
    "embeddings" -> Seq("vec_id" -> 1000000000000L),
  )

  /** The r11/r12 bench's most expensive queries — the ones whose 100-TB
    * story most needs off-paper evidence. q_dedup_clusters is excluded
    * (its converged stage memoizes per (session, dir) — a two-dir sweep
    * in one session would half-measure the cache) and covered by
    * q_embed_pipeline, which runs the same CC machinery un-memoized.
    */
  private val defaultQueries = Seq(
    "q_pagerank", "q_quality_classifier", "q_tpch_q18", "q_embed_pipeline",
    "q_repetition", "q_hybrid_search", "q_lm_score", "q_vocab_coverage",
    "q_fuzzy_join", "q_ivf_pq", "q_tpch_q10", "q_image_neardup",
    "q_substr_dedup", "q_substr_removal",
    // round-13 additions: the retraction faces (store bootstrap +
    // tombstone write + corrected read, the full maintenance cycle at
    // 10×), the Bloom semi join (its shuffle-shrink claim depends on
    // dim selectivity holding under scale), triangle counting (pair
    // volume and oriented-wedge bounds at 10×), and the Q21 semi+anti
    // chain (three lineitem-scale exchanges)
    "q_dedup_retract", "q_bloom_join", "q_lm_retract", "q_nb_retract",
    "q_triangles", "q_tpch_q21",
    // round-14 sweep of the remaining round-13 expensive queries (the
    // r13 verdict's item 7): curriculum's threshold-broadcast vs the
    // double-derived scored frame, MAD's broadcast median join, and the
    // anomaly detector's trailing-window self-join — plus the new
    // round-14 as-of face (store bootstrap + membership-scoped
    // correction read at 10×)
    "q_curriculum", "q_mad", "q_anomaly", "q_lm_asof",
    // the rest of the round-14 wave: the NB as-of face (batch-sliced
    // counts + membership-scoped corrections), both vector-store as-of
    // probes (store bootstrap + append + retract + pruned probe), and
    // the ingest/forget provenance audit (five membership joins)
    "q_nb_asof", "q_ann_asof", "q_ivf_asof", "q_provenance",
    // round-16: the reject-contract loaders (CSV/JSONL derivation +
    // parse + reject split at 10x), the derived-partsupp join shapes,
    // and the versioned tokenizer's as-of face (train 2 versions at
    // 10x vocabulary pressure, encode under the frozen v0)
    "q_csv_load", "q_jsonl_load", "q_tpch_q9", "q_tpch_q20", "q_bpe_asof",
    // the rest of the derived-partsupp family: Q2's window-min over
    // broadcast joins, Q11's 1-row global threshold broadcast-back,
    // Q16's distinct-count behind broadcast part/anti-supplier filters
    "q_tpch_q2", "q_tpch_q11", "q_tpch_q16",
    // round-17: the packing plan's per-shard running-offset window at
    // 10x rows-per-shard, the budget plan's dimension-sized rollup, and
    // the LSH-vs-exact recall metric (its brute side is the documented
    // bounded probe-slice crossJoin — the ratio shows whether that
    // bound holds at 10x corpus)
    "q_seq_pack", "q_token_budget", "q_ann_recall",
    // round-18: the refinement stages — the claim is that the exact
    // re-rank stays |queries|xR id-fetches (bounded extra reads), so
    // wall must track the candidate scan (flat ADC for q_pq_refine,
    // the probed-lists slice for q_ivf_pq_refine), not the shortlist
    "q_pq_refine", "q_ivf_pq_refine",
    // round-19: the planner face (measures every tier's recall once into
    // its store, then serves the chosen tier — the ratio shows the
    // store-build amortizes and the served tier scales like its
    // standalone self), the reordered capstone (near-dup fingerprints
    // now run on gated survivors — wall must track the SURVIVOR count,
    // not the raw corpus), the meta faces' MPEG/MP4/H.264 header
    // walks (pure per-row byte parsing — must scale linearly), and the
    // DSIR selection (two gram aggregates + count-table joins — the
    // model frames are vocab-bounded, so wall must track the gram
    // stream, i.e. the corpus)
    "q_ann_plan", "q_pipeline_e2e", "q_multimodal_meta", "q_video_meta",
    "q_dsir",
    // round-20: the DSIR deployment faces (bucketed in-query selection;
    // frozen-model scoring from the stored B-row frames — wall must
    // track the gram stream, the model joins are broadcast constants)
    // and URL dedup (canonical-URL window — high-cardinality keys,
    // bounded groups, plus the broadcast reputation join)
    "q_dsir_bucket", "q_dsir_probe", "q_url_dedup")

  /** A run's seconds and rows; a failed run aborts the check. */
  private def secOf(r: Runner.Run): (Double, Long) = (r.sec, r.rows.fold(e => throw e, identity))

  /** Min-of-2 drained runs of `q(dir)` — the standing sweep's
    * convention, so recorded points stay comparable across rounds. */
  private def minOf2(spark: SparkSession, name: String, dir: String)(
      q: String => DataFrame): (Double, Long) =
    secOf(Runner.best(Seq.fill(2)(
      Runner.timed(spark, name, s"graft scale: $name on $dir")(Runner.drain(q(dir))))))

  def buildSf1(spark: SparkSession, baseDir: String, outDir: String, copies: Int): Unit = {
    val done = new java.io.File(outDir, "_SCALE_OK")
    if (done.isFile) { System.err.println(s"[scale] reusing $outDir"); return }
    graft.sources.Tables.all.foreach { t =>
      val base = spark.read.parquet(s"$baseDir/$t.parquet")
      val shifts = keyShifts(t)
      val replicas = (0 until copies).map { i =>
        shifts.foldLeft(base) { case (df, (c, stride)) =>
          // cast back to the source column type so the sf1 schema is
          // byte-identical to sf0.1's (int32 dims stay int32)
          df.withColumn(c, (col(c) + lit(stride * i)).cast(base.schema(c).dataType))
        }
      }
      replicas.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[scale] wrote $outDir/$t.parquet (${copies}x)")
    }
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  /** Plan-shape signature: counts of the strategy-bearing physical nodes
    * in the FINAL adaptive plan — the query is executed first
    * (`foreach(_ => ())`, no driver materialization) because with AQE on
    * the static executedPlan is only the initial guess: a sort-merge
    * join AQE converts to a broadcast at runtime (or vice versa between
    * scales) is exactly the flip this tool exists to catch, and reading
    * the plan pre-execution would miss it (PlanSpec's own
    * collect-then-assert convention). Exchange counts are deliberately
    * NOT in the signature: AQE coalesce/reuse wobble would report noise
    * as flips.
    */
  def planShape(df: DataFrame): Map[String, Int] = {
    df.foreach(_ => ())
    val plan = df.queryExecution.executedPlan.toString
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(k => k -> k.r.findAllIn(plan).length).filter(_._2 > 0).toMap
  }

  /** The iterative-CC family's own two-scale row (r16 verdict item 4):
    * `q_dedup_clusters` cannot ride the normal sweep because its
    * converged stage memoizes per (session, dir) — the second rep and
    * the post-planShape measure would read the cache, not the operator.
    * This drives the SAME machinery un-memoized through the public
    * [[graft.operators.Dedup.clusterPairs]] (every call recomputes the
    * full star-contraction loop; Local checkpoint blocks are released
    * at job end, the documented transient-caller contract), so the
    * recorded ratio is the honest iterative cost at 10×. q_pagerank
    * needs no twin — its face never memoizes. */
  private def ccRows(spark: SparkSession, baseDir: String, sf1Dir: String,
      only: Option[Set[String]]): Seq[(String, Double, Double, Boolean)] = {
    if (!only.forall(_.contains("q_dedup_clusters_unmemoized"))) return Seq.empty
    def measureCc(dir: String): Double = minOf2(spark, "q_dedup_clusters_unmemoized", dir)(d =>
      graft.operators.Dedup.clusterPairs(
        graft.operators.Dedup.qDedupNgram(spark, d).select("doc_a", "doc_b")))._1
    val (tSmall, tBig) = (measureCc(baseDir), measureCc(sf1Dir))
    System.err.println(f"[scale] q_dedup_clusters_unmemoized sf0.1 $tSmall%7.2f s   sf1 $tBig%7.2f s   ratio ${tBig / tSmall}%5.2f")
    Seq(("q_dedup_clusters_unmemoized", tSmall, tBig, false))
  }

  /** The planner's one-time all-tier measurement build as its OWN
    * two-scale row (r19 verdict item 3): q_ann_plan's sweep row measures
    * the SERVE (store read + chosen tier's face — the build memoizes
    * under buildOnce before the timed reps), so the build cost must be
    * priced somewhere honest — here, into a fresh store path each rep,
    * never the memoized one. */
  private def annPlanBuildRows(spark: SparkSession, baseDir: String, sf1Dir: String,
      only: Option[Set[String]]): Seq[(String, Double, Double, Boolean)] = {
    if (!only.forall(_.contains("q_ann_plan_build"))) return Seq.empty
    def measureBuild(dir: String): Runner.Run = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scale-annplan")
      // the build has no output rows; the store only exists to be timed —
      // delete it, don't accumulate orphaned /tmp trees across runs
      try Runner.timed(spark, "q_ann_plan_build", s"graft scale: q_ann_plan_build on $dir") {
        graft.operators.Similarity.writeAnnRecallStore(spark, dir, tmp.toString + "/store"); 0L
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
    def best(dir: String): Double = secOf(Runner.best(Seq.fill(2)(measureBuild(dir))))._1
    val (tSmall, tBig) = (best(baseDir), best(sf1Dir))
    System.err.println(f"[scale] q_ann_plan_build sf0.1 $tSmall%7.2f s   sf1 $tBig%7.2f s   ratio ${tBig / tSmall}%5.2f")
    Seq(("q_ann_plan_build", tSmall, tBig, false))
  }

  /** The deployment's NIGHTLY shape as ONE orchestrated sf1 scenario
    * (r16 verdict item 5): grow a REAL six-store estate through the
    * composition entry points — bootstrap over the non-streamed corpus,
    * then a REAL [[graft.streaming.EventStreams.ingestDocStream]] run
    * (three micro-batches of docs + their vectors across ALL six stores
    * under one durable checkpoint — ONE writer protocol per store, so
    * everything post-bootstrap arrives through the stream and every
    * scoped batch id is checkpoint-covered), then a [[graft.operators
    * .Pipeline.forgetDocs]] deletion request spanning bootstrap AND
    * streamed docs — then run the FULL compact-all-stores DAG as
    * orchestrator modules behind the DECODE dependency matrix, fold
    * watermarks DERIVED from the stream's checkpoint, and assert every
    * store's post-compaction READ FACE answers exactly what it answered
    * before the fold (with the forgotten docs physically purged and no
    * tombstone left anywhere). Returns the orchestrated DAG's wall
    * seconds. */
  private def maintenanceDagAtSf1(spark: SparkSession, sf1Dir: String): Double = {
    // The CLOUD deployment shape, not just the local one: every writer
    // claim this scenario takes — bootstrap swaps, each micro-batch's
    // ingest claims, forgetDocs' retraction claims, all six compaction
    // modules — goes through the HTTP bucket binding (real conditional
    // PUTs over loopback HTTP against the in-repo emulation), exactly
    // how an S3/GCS estate locks. Restored in the finally.
    val lockStaging = java.nio.file.Files.createTempDirectory("graft-scale-dag-lock")
    val lockBucket = new graft.state.HttpBucket.Server(lockStaging, latencyMs = 1)
    val prevBinding = graft.sources.StoreLock.objectStore
    graft.sources.StoreLock.objectStore =
      new graft.state.HttpBucket.HttpObjectStore(java.net.URI.create(lockBucket.uri))
    try maintenanceDagBody(spark, sf1Dir, lockBucket)
    finally {
      graft.sources.StoreLock.objectStore = prevBinding
      lockBucket.stop()
      java.nio.file.Files.deleteIfExists(lockStaging)
    }
  }

  private def maintenanceDagBody(spark: SparkSession, sf1Dir: String,
      lockBucket: graft.state.HttpBucket.Server): Double = {
    import graft.operators.{Dedup, Pipeline, Search, Similarity, TextOps}
    import graft.sources.Tables
    val base = java.nio.file.Files.createTempDirectory("graft-scale-dag").toString
    val (sig, idx, lm, nb, ann, ivf) = (s"$base/signatures", s"$base/postings",
      s"$base/lm", s"$base/nb", s"$base/ann", s"$base/ivf")
    val ckpt = s"$base/ckpt"

    val docs = Tables.documents(spark, sf1Dir).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, sf1Dir).select("vec_id", "embedding")
    val allStores = Pipeline.DocStores(
      Some(sig), Seq(ann, ivf), Some(idx), Some(lm), Some(nb))
    // the stream leg's docs: one writer protocol per store (the stores'
    // single-writer contract), so EVERYTHING post-bootstrap arrives
    // through the ingest stream — micro-batch ids are the scoped batch
    // ids, and the checkpoint's commit ledger is what the orchestrated
    // sweep later derives every fold watermark from
    val streamed = pmod(col("doc_id"), lit(5L)) === 2
    // deletion request spans BOTH planes: bootstrap docs and streamed
    // docs — the derived watermark must cover every scoped admission so
    // the compaction sweep can physically complete the whole purge
    val retr = pmod(col("doc_id"), lit(7L)) === 3

    // 1. bootstrap all six stores over the non-streamed corpus
    val boot = docs.filter(!streamed)
    val streamedVecIds = vecs.select("vec_id")
      .join(docs.filter(streamed).select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    Dedup.writeSignatures(Dedup.signaturesOf(boot), sig)
    Search.writeSearchIndexFrom(spark, boot, idx)
    TextOps.writeLmModel(spark, boot, lm)
    TextOps.writeNbModel(spark, boot, nb)
    Similarity.writeAnnIndexFrom(spark,
      vecs.join(streamedVecIds, Seq("vec_id"), "left_anti"), ann)
    Similarity.writeIvfIndexFrom(spark,
      vecs.join(streamedVecIds, Seq("vec_id"), "left_anti"), ivf)
    // 2. the STREAM ingest: three REAL micro-batches through the
    //    composition's streaming twin, docs + their vectors, one durable
    //    checkpoint across all six stores
    locally {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val rows = docs.filter(streamed).as[(Long, String)].collect()
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.EventStreams.ingestDocStream(
        input.toDF().toDF("doc_id", "text"), allStores, ckpt,
        vectorsFor = b => Some(vecs.join(
          b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
      try rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
    }
    // 3. the deletion request
    Pipeline.forgetDocs(spark, allStores, docs.filter(retr))

    // every store's READ FACE, rendered semantically (no batch_id — the
    // fold rewrites provenance columns by design, never answers)
    val probeDocs = docs.filter(pmod(col("doc_id"), lit(97L)) === 1 && !retr)
    val annBuckets = spark.read.parquet(ann).select("bucket").distinct()
      .orderBy("bucket").limit(6).collect()
      .map(_.getAs[Number](0).longValue()).toSeq
    def faces(): Seq[Seq[String]] = {
      val gateIn = Dedup.signaturesOf(docs.filter(pmod(col("doc_id"), lit(101L)) === 2))
        .withColumn("batch_id", lit(99L))
      Seq(
        Dedup.gateAgainstStored(spark, sig, gateIn,
            corpusFilter = col("batch_id") < 99, ordered = false)
          .select("doc_id", "is_duplicate", "n_dup_matches"),
        Search.scoreBm25(
          Search.probeSearchIndex(spark, idx, Search.QueryTerms)
            .select("doc_id", "dl", "word", "tf"),
          Search.searchStats(spark, idx)),
        TextOps.lmScoreStored(spark, probeDocs, lm),
        TextOps.qualityClassifierStored(spark, probeDocs, nb),
        Similarity.probeAnnIndex(spark, ann, annBuckets).select("vec_id", "bucket"),
        Similarity.qIvfProbeStored(spark, ivf)
      ).map { df =>
        // canonicalize doubles to 6 decimals before rendering: the
        // score faces sum doubles whose partial-aggregation order
        // follows file layout, which the compaction rewrites — a raw
        // byte-compare would be ulp-sensitive to the fold itself
        val cols = df.schema.fields.map {
          case f if f.dataType == org.apache.spark.sql.types.DoubleType =>
            round(col(f.name), 6).as(f.name)
          case f => col(f.name)
        }
        df.select(cols.toSeq: _*).collect().map(_.toString).sorted.toSeq
      }
    }
    val before = faces()

    // 4. the orchestrated DAG: one ingest-estate root, six MANDATORY
    //    compaction modules behind the DECODE matrix
    val stores = Seq(sig, idx, lm, nb, ann, ivf)
    val ctl = new graft.state.MwStateStore(spark,
      java.nio.file.Files.createTempDirectory("graft-scale-dag-ctl").toString)
    val names = Seq("DAG_SIG", "DAG_SEARCH", "DAG_LM", "DAG_NB", "DAG_ANN", "DAG_IVF")
    // DAG_AUDIT sits BEHIND the signature compaction — the dependent
    // that must route to DEPENDENCY FAILURE when DAG_SIG is killed in
    // the failure-injection leg below (r17 verdict item 8)
    ctl.putBatchMaster(graft.state.BatchMaster(400, "DAG_ROOT", 1, Some("OPS"), None) +:
      (names.zipWithIndex.map { case (n, i) =>
        graft.state.BatchMaster(401L + i, n, 1, Some("OPS"), None) } :+
        graft.state.BatchMaster(407L, "DAG_AUDIT", 1, Some("OPS"), None)))
    ctl.putDependencies(names.indices.map(i =>
      graft.state.BatchDependency(400, 401L + i, "MANDATORY")) :+
      graft.state.BatchDependency(401L, 407L, "MANDATORY"))
    ctl.putRunCommands((graft.state.RunCommand("DAG_ROOT", "graft.query q_count") +:
      Seq("maint_compact_signatures", "maint_compact_search", "maint_compact_lm",
        "maint_compact_nb", "maint_compact_ann", "maint_compact_ivf")
        .zip(names).map { case (q, n) => graft.state.RunCommand(n, s"graft.query $q") }) :+
      graft.state.RunCommand("DAG_AUDIT", "graft.query q_count"))
    val registry = SparkEntry.queries ++ graft.lifecycle.Maintenance.moduleRegistry(
      graft.lifecycle.Maintenance.StoreLayout(
        searchIndex = Some((idx, 0L)), lmModel = Some((lm, 0L)), nbModel = Some((nb, 0L)),
        signatureStore = Some(sig), annIndex = Some(ann), ivfIndex = Some(ivf)),
      ingestCheckpoint = Some(ckpt))
    val lc = new graft.lifecycle.Lifecycle(ctl, graft.lifecycle.SystemClock,
      graft.lifecycle.SystemSleeper)
    val orch = new graft.lifecycle.Orchestrator(spark, lc, sf1Dir, registry)
    val t0 = System.nanoTime()
    val outcomes = orch.runChain("DAG_ROOT" +: names :+ "DAG_AUDIT", runLevel = Some(1))
    val sec = (System.nanoTime() - t0) / 1e9
    require(outcomes.forall(_._2.isInstanceOf[graft.lifecycle.Orchestrator.Completed]),
      s"the nightly DAG must complete every module at sf1, got $outcomes")

    // 5. post-compaction: faces answer identically, purge is physical
    val after = faces()
    before.zip(after).zipWithIndex.foreach { case ((b, a), i) =>
      require(b == a, s"read face $i changed across the orchestrated compaction " +
        s"(before ${b.length} rows, after ${a.length})")
    }
    stores.foreach { p =>
      require(!graft.sources.Stores.hasTombstones(spark, p),
        s"the derived watermark must let the fold absorb every tombstone: $p")
    }
    val leftovers = spark.read.parquet(sig)
      .join(docs.filter(retr).select("doc_id"), Seq("doc_id"), "left_semi").count()
    require(leftovers == 0L, s"forgotten docs must be physically purged, found $leftovers")
    require(lockBucket.size == 0,
      s"every writer claim must have released through the bucket binding, ${lockBucket.size} remain")
    System.err.println(f"[scale] orchestrated NIGHTLY DAG (6-store estate, sf1): $sec%7.2f s  faces equal, purge physical, locks via HTTP bucket (all released)")

    // 6. FAILURE INJECTION at sf1 (r17 verdict item 8): rerun the
    //    SIG→AUDIT leg with the compaction module killed at the worst
    //    store moment — after the backup-move, before the swap-in (the
    //    exact on-disk state a kill -9 leaves; LifecycleBehaviors runs
    //    the same scenario at spec scale on every commit publisher).
    //    The MANDATORY dependent must route to DEPENDENCY FAILURE
    //    through the DECODE matrix, and the RESTARTED nightly must
    //    recover the sf1-sized store and complete with the read faces
    //    unchanged.
    locally {
      val killed: (SparkSession, String) => DataFrame = (s, _) => {
        val fs = new org.apache.hadoop.fs.Path(sig)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        require(fs.rename(new org.apache.hadoop.fs.Path(sig),
          new org.apache.hadoop.fs.Path(sig + ".bak")), "backup-move must apply")
        sys.error("kill -9 between backup-move and swap-in")
      }
      val orchKilled = new graft.lifecycle.Orchestrator(spark, lc, sf1Dir,
        registry ++ Map("maint_compact_signatures" -> killed))
      val crash = orchKilled.runChain(Seq("DAG_SIG", "DAG_AUDIT"), runLevel = Some(1))
      require(crash(0)._2.isInstanceOf[graft.lifecycle.Orchestrator.Failed],
        s"the killed compaction must close FAILURE, got ${crash(0)}")
      require(crash(1)._2 == graft.lifecycle.Orchestrator.NotRun(
        graft.lifecycle.DependencyFailed),
        s"the dependent must route to DEPENDENCY FAILURE, got ${crash(1)}")
      val t1 = System.nanoTime()
      val rerun = orch.runChain(Seq("DAG_SIG", "DAG_AUDIT"), runLevel = Some(1))
      val recoverSec = (System.nanoTime() - t1) / 1e9
      require(rerun.forall(_._2.isInstanceOf[graft.lifecycle.Orchestrator.Completed]),
        s"the restarted leg must recover and complete, got $rerun")
      val afterCrash = faces()
      before.zip(afterCrash).zipWithIndex.foreach { case ((b, a), i) =>
        require(b == a, s"read face $i changed across the crash+recovery cycle")
      }
      require(!graft.sources.Stores.hasTombstones(spark, sig) &&
        spark.read.parquet(sig).join(docs.filter(retr).select("doc_id"),
          Seq("doc_id"), "left_semi").count() == 0L,
        "recovery must not resurrect purged docs or tombstones")
      System.err.println(f"[scale] failure injection: killed mid-swap -> FAILURE + DEPENDENCY FAILURE; restarted leg recovered the sf1 store in $recoverSec%6.2f s, faces intact")
    }

    // 7. STREAMING-ADMISSION KILL at sf1 (r18 verdict item 8): the one
    //    crash window the mid-swap injection doesn't cover — the driver
    //    dies INSIDE a micro-batch's store admission: Bloom/IdBloom
    //    sidecars absorbed, the partition overwrite HALF-committed, and
    //    the writer claim still held (through the HTTP bucket binding,
    //    exactly how a cloud estate would wedge). Recovery protocol:
    //    verify the holder is dead → forceBreak → let the at-least-once
    //    replay re-run the batch. The sf1 store must converge to the
    //    once-run state bit-identically (StreamingSpec proves the same
    //    window at spec scale on BOTH streaming stores).
    locally {
      import graft.streaming.EventStreams
      val hfs = new org.apache.hadoop.fs.Path(sig)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sigRef = s"$base/sigRef"
      require(org.apache.hadoop.fs.FileUtil.copy(hfs, new org.apache.hadoop.fs.Path(sig),
        hfs, new org.apache.hadoop.fs.Path(sigRef), false,
        spark.sparkContext.hadoopConfiguration), "reference store copy must apply")
      // a fresh micro-batch: id-shifted, text-suffixed docs (some will
      // gate as near-dups of their originals — the realistic mix)
      val killBatch = docs
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" admission kill leg")).as("text"))
        .filter(pmod(col("doc_id"), lit(101L)) === 7)
      val (gOutRef, gOutCrash) = (s"$base/gateOutRef", s"$base/gateOutCrash")
      EventStreams.gateBatch(killBatch, 999L, sigRef, gOutRef) // the once-run reference
      // plant the kill on the live estate store: absorbs landed, HALF
      // of the once-run admission's rows committed, claim held
      val sigRows = Dedup.signaturesOf(killBatch).withColumn("batch_id", lit(999L))
      Dedup.absorbIntoBloom(spark, sig, sigRows.select("bucket"))
      graft.sources.IdBloom.absorb(spark, sig, sigRows.select("doc_id"))
      val admitted = spark.read.parquet(sigRef).filter(col("batch_id") === 999L)
      graft.sources.Sinks.overwritePartitionsDynamic(
        admitted.filter(pmod(col("doc_id"), lit(2L)) === 0), sig, Seq("shard", "batch_id"))
      require(graft.sources.StoreLock.objectStore.putIfAbsent(
        java.nio.file.Paths.get(graft.sources.StoreLock.lockPath(sig)),
        "pid=99999999 op=gate-admit thread=dead ts=1970-01-01T00:00:00Z".getBytes("UTF-8")),
        "the dead writer's claim must plant")
      val t2 = System.nanoTime()
      graft.sources.StoreLock.forceBreak(sig) // holder verified dead (we are it)
      EventStreams.gateBatch(killBatch, 999L, sig, gOutCrash)
      val replaySec = (System.nanoTime() - t2) / 1e9
      def snap(p: String): Seq[String] =
        spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
      require(snap(sig) == snap(sigRef),
        "the replayed admission must converge the half-committed sf1 store to the once-run state")
      require(snap(gOutCrash) == snap(gOutRef),
        "replayed verdicts must equal the uninterrupted run's")
      System.err.println(f"[scale] streaming-admission kill: stale claim broken, at-least-once replay converged the sf1 gate store in $replaySec%6.2f s, verdicts identical")
    }
    sec
  }

  /** The sf3 tier (r17 verdict item 5): push the three WORST sf1
    * scalers one more 3× step (30 key-shifted copies of sf0.1) and
    * decompose growth into OUTPUT vs COMPUTE — each measurement
    * records wall seconds AND result rows, so a super-linear wall
    * ratio with a matching output ratio is output-bound by the data
    * (q_fuzzy_join's documented shape: the duplicated-corpus replicas
    * multiply matching pairs), while a wall ratio far above the output
    * ratio would be the unexplained compute term the claims exclude:
    *  - q_ivf_pq: the one-time index build amortizes — its share of
    *    wall must FALL from sf1 to sf3;
    *  - q_fuzzy_join: output-bound with the block cap holding;
    *  - q_embed_pipeline: pair volume bounded by banding.
    * Returns the JSON fragment for the record line. */
  private def sf3Tier(spark: SparkSession, baseDir: String, sf1Dir: String,
      sf3Dir: String): String = {
    buildSf1(spark, baseDir, sf3Dir, copies = 30)
    val qs = Seq("q_ivf_pq", "q_fuzzy_join", "q_embed_pipeline")
    def ms3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val frags = qs.map { n =>
      // min-of-2 per scale, the standing sweep's convention, so the
      // recorded sf0.1/sf1 points stay comparable with prior rounds
      def m(dir: String) = minOf2(spark, n, dir)(SparkEntry.queries(n)(spark, _))
      val ((aT, aR), (bT, bR), (cT, cR)) = (m(baseDir), m(sf1Dir), m(sf3Dir))
      val wall31 = cT / bT
      val out31 = if (bR > 0) cR.toDouble / bR else Double.NaN
      System.err.println(f"[scale] sf3 $n%-18s sf0.1 $aT%7.2f s/$aR%8d r   sf1 $bT%7.2f s/$bR%9d r   sf3 $cT%7.2f s/$cR%9d r   wall3:1 $wall31%5.2f  out3:1 $out31%5.2f")
      s""""$n":{"sf01":{"sec":${ms3(aT)},"rows":$aR},"sf1":{"sec":${ms3(bT)},"rows":$bR},""" +
        s""""sf3":{"sec":${ms3(cT)},"rows":$cR},"wall_ratio_3_1":${ms3(wall31)},"out_ratio_3_1":${ms3(out31)}}"""
    }
    frags.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/tmp/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Runner.session(s"local[$cpus]", cpus)
    buildSf1(spark, baseDir, sf1Dir, copies = 10)

    val only = Runner.only("SPARK_GRAFT_SCALE_ONLY")
    val names = defaultQueries.filter(n => only.forall(_.contains(n)))

    // JIT/alloc warmup on the small side so sf0.1 numbers aren't charged
    // with first-touch compilation the sf1 run then gets for free (a
    // failure here is the sweep's to report)
    names.take(3).foreach(n => Runner.timed(spark, n, s"graft scale warmup: $n")(
      Runner.drain(SparkEntry.queries(n)(spark, baseDir))))

    val rows = names.map { n =>
      val shapeSmall = planShape(SparkEntry.queries(n)(spark, baseDir))
      val shapeBig = planShape(SparkEntry.queries(n)(spark, sf1Dir))
      def m(dir: String) = minOf2(spark, n, dir)(SparkEntry.queries(n)(spark, _))._1
      val (tSmall, tBig) = (m(baseDir), m(sf1Dir))
      val flip = shapeSmall != shapeBig
      System.err.println(f"[scale] $n%-22s sf0.1 $tSmall%7.2f s   sf1 $tBig%7.2f s   ratio ${tBig / tSmall}%5.2f"
        + (if (flip) s"   PLAN FLIP $shapeSmall -> $shapeBig" else ""))
      (n, tSmall, tBig, flip)
    } ++ ccRows(spark, baseDir, sf1Dir, only) ++
      annPlanBuildRows(spark, baseDir, sf1Dir, only)
    // The full nightly maintenance DAG over a really-grown 6-store estate
    // (dev loops opt in with SCALE_ONLY=maint_dag_full; full sweeps run it)
    val dagSecs: Option[Double] =
      if (only.forall(_.contains("maint_dag_full"))) Some(maintenanceDagAtSf1(spark, sf1Dir))
      else None
    // sf3 tier for the worst sf1 scalers (dev loops opt in with
    // SCALE_ONLY=sf3_tier; full sweeps always run it)
    val sf3Json: Option[String] =
      if (only.forall(_.contains("sf3_tier")))
        Some(sf3Tier(spark, baseDir, sf1Dir,
          sys.env.getOrElse("SPARK_GRAFT_SF3_DIR", "/root/repo/tmp/sf3")))
      else None
    def ms3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = rows.map { case (n, a, b, f) =>
      s""""$n":{"sf01":${ms3(a)},"sf1":${ms3(b)},"ratio":${ms3(b / a)},"plan_flip":$f}"""
    }.mkString("{", ",", "}")
    val dagJson = dagSecs.map(ms3).getOrElse("null")
    val sf3Field = sf3Json.getOrElse("null")
    println(s"""{"metric":"scale_check","copies":10,"queries":$qs,"maintenance_dag_sf1_sec":$dagJson,"sf3_tier":$sf3Field,"flips":${rows.count(_._4)}}""")
    spark.stop()
  }
}
