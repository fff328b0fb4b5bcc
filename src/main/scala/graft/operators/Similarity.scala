package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Native

import graft.functions.{DotProduct, IvfScores, PqAdc, PqEncode, PqLut, TopKByScore}
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`embedding: array<float>`,
  * 64-dim) — north-star extensions, SURVEY §7.6.
  *
  * Three tiers:
  *  - `qEmbedNeardup`: near-dup pair detection with bounded blocking —
  *    banded sign-LSH (OR-construction: a pair is a candidate if ANY band
  *    bucket agrees) inside each label, then the exact cosine filter.
  *    Per-band buckets bound the join fan-out, so no label can go
  *    quadratic (the scale-killer in an unbounded label block).
  *  - `qAnnTopk`: brute-force cosine top-k — the exact baseline. The query
  *    set is broadcast, so the corpus is scanned once with no shuffle;
  *    at 100 TB this is the classic "small query batch × huge corpus"
  *    scan shape.
  *  - `qAnnLsh`: multi-probe sign-LSH buckets — the scale path. Each
  *    corpus vector lives in one bucket; each query probes its own bucket
  *    plus all Hamming-1 neighbors, recovering most of the recall that a
  *    single probe loses (recall vs brute force asserted in
  *    SimilaritySpec, not by SQL oracle).
  *
  * Dot products run through the native codegen'd expression
  * graft.functions.DotProduct, built directly through the
  * [[org.apache.spark.sql.graftshim.Native]] shim. It accumulates
  * sequentially in double — bit-identical to the DuckDB oracle's
  * `list_aggregate(..., 'sum')`, which is what makes differential testing
  * of float math possible at all.
  */
object Similarity {

  private[graft] val Dim = 64

  /** ANN bucket planes: 16 buckets; with Hamming-1 multi-probe each query
    * touches 5/16 of the bucket space. On clustered production embeddings
    * more planes (deeper buckets) keep the probed fraction small; on the
    * synthetic near-uniform corpus this depth is what sustains recall —
    * the tradeoff is planes vs recall, and the probe set scales linearly
    * with planes either way. */
  private[graft] val AnnPlanes = 4

  /** Near-dup banding: 4 bands × 2 planes (OR-construction). A pair
    * collides if any band agrees: recall 1-(1-p²)⁴ for per-plane
    * agreement p; block size is bounded per (label, band, bucket). */
  private val NdBands = 4
  private val NdPlanesPerBand = 2
  /** Distinct plane family for the near-dup bands (offset 100 keeps them
    * independent of the ANN planes). */
  private def ndPlaneIds(band: Int): Seq[Int] =
    (0 until NdPlanesPerBand).map(j => 100 + band * NdPlanesPerBand + j)

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * uniform in [-0.5, 0.5), derived from a 64-bit avalanche hash so no
    * RNG state is needed (reproducible across executors by construction).
    */
  private[graft] def planeComponent(plane: Int, dim: Int): Double = {
    var h = (plane.toLong << 32) | (dim.toLong & 0xFFFFFFFFL)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    (h >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  /** Sequential-fold dot product in double precision (the native
    * [[graft.functions.DotProduct]] kernel). */
  private[graft] def dotCol(a: Column, b: Column): Column =
    Native.col(DotProduct(Native.expr(a), Native.expr(b)))

  private def planeArr(p: Int): Column =
    array((0 until Dim).map(d => lit(planeComponent(p, d))): _*)

  /** Sign-bucket of `embedding` under the given plane family. */
  def lshBucket(embedding: Column, planes: Seq[Int]): Column =
    planes.zipWithIndex.map { case (p, k) =>
      when(dotCol(embedding, planeArr(p)) > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dotCol(col("embedding"), col("embedding"))))

  // ---- cosine near-dup pairs: banded LSH blocking within label ----------
  // (The synthetic corpus has no planted high-cosine dup clusters — max
  // pairwise cosine ≈ 0.51 — so the demo threshold is 0.4; the operator
  // shape is what matters: bounded blocks → pairs within block → exact
  // cosine threshold.)
  def qEmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir))
    val bandCols = (0 until NdBands).map(b => lshBucket(col("embedding"), ndPlaneIds(b)))
    // The banded frame CARRIES the embedding + norm, and the repartition
    // on the band keys makes both self-join sides canonicalize to the
    // SAME exchange (qDedupMinhash's pattern): one corpus scan computes
    // the band projections, and the join scores candidates directly —
    // no second/third embedding scan to re-fetch vectors by id. The
    // trade is explicit: the shuffle carries each 64-float vector once
    // per band (NdBands× replication) instead of narrow keys; at 100 TB
    // that is ~1 KB/row against re-scanning the corpus twice, and the
    // shuffle_hash hint keeps the planner from broadcasting a side and
    // silently discarding the reuse.
    val banded = e.select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bkt")))
      .repartition(col("label"), col("band"), col("bkt"))
    val a = banded.select(col("vec_id").as("id_a"), col("label"), col("band"), col("bkt"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = banded.select(col("vec_id").as("id_b"), col("label"), col("band"), col("bkt"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b.hint("shuffle_hash"), Seq("label", "band", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(dotCol(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6))
      // Threshold BEFORE the distinct: cosine is functional on the pair,
      // so the dedup shuffle carries only surviving pairs, not every
      // band collision (same ordering as qDedupSimhash).
      .filter(col("cosine") >= 0.4)
      .select("label", "id_a", "id_b", "cosine")
      .distinct()
      .orderBy("label", "id_a", "id_b")
  }

  // ---- brute-force cosine top-k -----------------------------------------
  /** Top-5 neighbors for each query vector (vec_id ≡ 0 mod 100). Ranking
    * uses the ROUNDED cosine with vec_id tiebreak so ordering is identical
    * across engines even at float-tie boundaries.
    */
  /** The brute-force scored frame shared by the window ([[qAnnTopk]])
    * and aggregate ([[qAnnTopkAgg]]) top-k faces — one definition, so
    * the two formulations can never score differently. */
  private def bruteScored(s: SparkSession, dir: String): DataFrame =
    bruteScoredOver(withNorm(Tables.embeddings(s, dir)))

  /** [[bruteScored]] over an already-normalized frame — the seam that
    * lets [[writeAnnRecallStore]] share ONE persisted withNorm pass
    * between the exact side and the candidate-volume measurement. */
  private def bruteScoredOver(e: DataFrame): DataFrame = {
    val queries = e.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(dotCol(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
  }

  def qAnnTopk(s: SparkSession, dir: String): DataFrame =
    qAnnTopkOver(withNorm(Tables.embeddings(s, dir)))

  private def qAnnTopkOver(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    bruteScoredOver(e)
      // null cosines never rank — [[topkCol]]'s contract, carried here
      // so the window and aggregate faces stay output-identical even in
      // non-ANSI sessions where a zero divisor yields NULL instead of
      // failing fast (row_number would otherwise still rank NULLS-LAST
      // rows that the aggregate face drops)
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id").as("neighbor_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Recall@5 of the multi-probe LSH tier against EXACT brute-force
    * top-5 — the quality metric an ANN deployment actually tunes on
    * (planes/probes trade recall for read volume; this face MEASURES
    * the trade instead of asserting it). One row per probe query:
    * |LSH∩exact| / |exact|, both sides the registered faces' own
    * results, so the metric can never drift from what the engine
    * serves. Scale: composes two already-bounded faces — the exact side
    * is the documented brute-force tier over the probe-query slice, the
    * LSH side is bucket-pruned — joined on (query, neighbor), which is
    * probe-count × k rows. */
  /** Recall@k of an approximate top-k frame against the exact one —
    * ONE left join + ONE aggregate: count(m) counts matched neighbors
    * (nulls skipped), count(*) is k. Sound because every index tier's
    * result is unique per (q_id, neighbor_id) — each corpus vector has
    * one bucket/list and probes are distinct per query — so the left
    * join never fans out. ONE body for both metric faces, so a recall
    * formula change cannot silently diverge them. */
  private def recallOf(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select("q_id", "neighbor_id")
      .join(approx.select("q_id", "neighbor_id").withColumn("m", lit(1)),
        Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(round(count(col("m")) / count(lit(1)), 6).as("recall_at_5"))
      .orderBy("q_id")

  def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    recallOf(qAnnTopk(s, dir), qAnnLsh(s, dir))

  /** [[qAnnRecall]]'s twin for the IVF tier: recall@5 of the
    * list-pruned probe against exact brute force — together the two
    * metrics bound where each index tier's pruning starts costing
    * answers. No SQL oracle (the quantizer trains iteratively); the
    * [[graft.verify.Expected.ivfRecallRows]] twin recomputes it
    * sequentially under the shared quantizer. */
  def qIvfRecall(s: SparkSession, dir: String): DataFrame =
    recallOf(qAnnTopk(s, dir), qAnnIvf(s, dir))

  /** The trio's third face: recall@5 of the PQ tier (ADC over 16-byte
    * codes) vs exact — what code compression costs in answers, next to
    * what bucket pruning (LSH) and list pruning (IVF) cost. Gated
    * through [[graft.verify.Expected.pqRecallRows]]. */
  def qPqRecall(s: SparkSession, dir: String): DataFrame =
    recallOf(qAnnTopk(s, dir), qAnnPq(s, dir))

  // ---- ANN tier planner ---------------------------------------------------
  /** The serving tiers the planner chooses among. Every entry is a
    * registered face with its own correctness gate, so whatever the
    * planner picks is something the engine already proves it serves
    * right. */
  private[graft] val annTierFaces: Map[String, (SparkSession, String) => DataFrame] = Map(
    "brute"         -> (qAnnTopk _),
    "lsh"           -> (qAnnLsh _),
    "ivf"           -> (qAnnIvf _),
    "pq"            -> (qAnnPq _),
    "pq_refine"     -> (qPqRefine _),
    "ivf_pq"        -> (qIvfPq _),
    "ivf_pq_refine" -> (qIvfPqRefine _))

  /** Per-query probe COST of a serving tier, in scan-bytes: candidate
    * volume a query's probes actually touch × bytes per touched vector
    * (float32 vectors vs 1-byte PQ codes), plus the refine stages'
    * exact re-read of their R-row shortlist. The pruning volumes are
    * MEASURED on the corpus (per-query average candidates of the
    * bucket/list probes — [[measuredCandidatesFrom]]) rather than the
    * uniform-occupancy fractions ((AnnPlanes+1)/2^AnnPlanes,
    * IvfProbes/IvfLists) an earlier heuristic assumed — the r19 advice:
    * a skewed corpus whose LSH buckets collapse makes the uniform
    * assumption under-price that tier by up to 2^AnnPlanes/(AnnPlanes+1),
    * and the planner should choose on what the probes will actually
    * read. The byte constants stay the shipped faces' own
    * ([[PqSubspaces]], [[PqRefineR]], [[Dim]]), so the cost model
    * cannot drift from what executes. Deterministic (candidate counts
    * are exact integers), so the differential twin re-derives identical
    * costs from its own sequential bucket/list assignments. */
  private[graft] def annTierCostMeasured(tier: String, nVectors: Long,
      lshCandPerQ: Double, ivfCandPerQ: Double): Double = {
    val full = 4.0 * Dim
    val codes = PqSubspaces.toDouble
    val refine = PqRefineR * full
    tier match {
      case "brute"         => (nVectors - 1).toDouble * full
      case "lsh"           => lshCandPerQ * full
      case "ivf"           => ivfCandPerQ * full
      case "pq"            => (nVectors - 1).toDouble * codes
      case "pq_refine"     => (nVectors - 1).toDouble * codes + refine
      case "ivf_pq"        => ivfCandPerQ * codes
      case "ivf_pq_refine" => ivfCandPerQ * codes + refine
      case other => throw new IllegalArgumentException(s"unknown ANN tier '$other'")
    }
  }

  /** Measured per-query candidate volumes of the two pruned scans on a
    * corpus: (n, lsh candidates/query, ivf candidates/query), each the
    * exact count of corpus vectors a probe query's buckets/lists
    * contain (self excluded — a query always probes its own
    * bucket/list). Entirely model-plane arithmetic: the bucket and list
    * HISTOGRAMS are ≤ 2^[[AnnPlanes]] / [[IvfLists]] rows, the query
    * probe sets are |queries| rows of ≤ [[IvfProbes]] ints — nothing
    * corpus-sized crosses the driver. */
  private[graft] def measuredCandidatesFrom(
      vectors: DataFrame): (Long, Double, Double) = {
    // one materialization serves the bucket histogram, the quantizer's
    // training sample, the list histogram and both probe-set jobs —
    // this runs inside the one-time q_ann_plan_build, where re-scanning
    // the corpus per aggregate would inflate the priced build (r20
    // review); persist + unpersist, corpus-sized but build-plane
    val e = withNorm(vectors).persist()
    try measuredCandidatesOver(e)
    finally { e.unpersist(); () }
  }

  private def measuredCandidatesOver(e: DataFrame): (Long, Double, Double) = {
    val b = e.withColumn("bucket", lshBucket(col("embedding"), 0 until AnnPlanes))
    val hist = b.groupBy("bucket").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val n = hist.values.sum
    val qBuckets = b.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .groupBy("bucket").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1))
    val nQ = qBuckets.map(_._2).sum
    require(nQ > 0, "no probe queries (vec_id % 100 == 0) — cannot measure tier costs")
    val lshCand = qBuckets.map { case (qb, cnt) =>
      cnt * probeBuckets(qb).map(hist.getOrElse(_, 0L)).sum
    }.sum - nQ
    val cents = trainQuantizer(e)
    val lists = e.withColumn("list_id",
      ivfListId(cents)(col("embedding"), col("nrm")))
    val lhist = lists.groupBy("list_id").count().collect()
      .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
    // Σ_q Σ_{l ∈ probes(q)} |list l| = Σ_l (#queries probing l)·|list l|
    val probed = lists.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(ivfProbeLists(cents)(col("embedding"), col("nrm")).as("l"))
      .groupBy("l").count().collect()
      .map(r => r.getAs[Number](0).intValue -> r.getLong(1))
    val ivfCand = probed.map { case (l, qc) => qc * lhist.getOrElse(l, 0L) }.sum - nQ
    (n, lshCand.toDouble / nQ, ivfCand.toDouble / nQ)
  }

  /** THE planner decision: cheapest tier whose MEASURED mean recall@5
    * meets the target, priced by its MEASURED cost-bytes (the store's
    * cost column on the engine side; the sequential twin's re-derived
    * candidates on the oracle side); brute force (recall 1.0 by
    * definition) is the always-eligible fallback, so any target ≤ 1 has
    * an answer. Ties break toward higher recall, then name — a total
    * order, so the choice is independent of map iteration order. Shared
    * verbatim by the engine face and the differential twin: the two
    * sides feed it INDEPENDENTLY measured recalls AND costs, so a
    * regression in any tier's recall, any probe's pruning, or the cost
    * model flips the choice and fails the q_ann_plan hash gate. */
  def chooseAnnTier(measured: Map[String, Double], costs: Map[String, Double],
      recallTarget: Double): String = {
    require(recallTarget <= 1.0, s"recall target $recallTarget is unattainable")
    val eligible = (measured + ("brute" -> 1.0)).toSeq
      .filter { case (_, r) => r + 1e-9 >= recallTarget }
    eligible.foreach { case (t, _) =>
      require(costs.contains(t), s"no measured cost for eligible tier '$t'") }
    eligible.minBy { case (t, r) => (costs(t), -r, t) }._1
  }

  /** q_ann_plan's pinned target: high enough that the rawest tiers'
    * measured pruning losses matter, low enough that a refine tier
    * (rather than only brute) can clear it on the synthetic corpus. */
  private[graft] val AnnPlanRecallTarget = 0.9

  /** Mean recall@5 per approximate tier, measured on THIS corpus via
    * the registered faces (the exact side computed once). Means round
    * to 6 like every per-query recall, so the stored measurement is
    * engine-order-independent. */
  def measuredTierRecall(s: SparkSession, dir: String): Map[String, Double] = {
    // one brute-force pass, not one per tier: the exact side is
    // identical across the six recall aggregates, and at deployment
    // scale it is the single most expensive scan in the measurement
    // (r19 review). persist + unpersist, not localCheckpoint — the
    // frame is |queries|x5 rows, pure cache, no lineage concern.
    val exact = qAnnTopk(s, dir).persist()
    try {
      def mean(approx: DataFrame): Double = {
        val m = recallOf(exact, approx).agg(avg("recall_at_5")).head.getDouble(0)
        BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      annTierFaces.keys.filter(_ != "brute").map { t =>
        t -> mean(annTierFaces(t)(s, dir))
      }.toMap
    } finally exact.unpersist()
  }

  /** Tmp-scoped recall-measurement store for [[qAnnPlan]]. */
  private def annPlanStorePath(dir: String): String =
    graft.sources.TmpStores.scopedPath("graft-annplan", dir)

  /** Persist the measured tier recalls AND measured cost-bytes — the
    * stored measurements a deployment's planner consults instead of
    * re-benchmarking every tier per query. Brute's row carries its
    * by-definition recall 1.0 and its measured full-scan cost, so the
    * serve path never needs a corpus count. */
  def writeAnnRecallStore(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    // ONE shared normalized-corpus pass for recalls AND costs (r21, the
    // r20 advice item): measuring recalls ([[measuredTierRecall]]) and
    // costs ([[measuredCandidatesFrom]]) separately re-scanned and
    // re-normalized the corpus once each — here the withNorm frame persists once and
    // serves the exact brute-force side, the quantizer's seed sample,
    // and all four candidate-volume aggregates. Values are identical to
    // the two standalone entry points' (same frames, same arithmetic),
    // which SimilaritySpec pins.
    val e = withNorm(Tables.embeddings(s, dir)).persist()
    val (recalls, costs) = try {
      val exact = qAnnTopkOver(e).persist()
      val rec = try {
        annTierFaces.keys.filter(_ != "brute").map { t =>
          val m = recallOf(exact, annTierFaces(t)(s, dir))
            .agg(avg("recall_at_5")).head.getDouble(0)
          t -> BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toMap
      } finally exact.unpersist()
      val (n, lshC, ivfC) = measuredCandidatesOver(e)
      (rec + ("brute" -> 1.0),
        (annTierFaces.keySet + "brute").map(t =>
          t -> annTierCostMeasured(t, n, lshC, ivfC)).toMap)
    } finally { e.unpersist(); () }
    recalls.toSeq.sorted.map { case (t, r) => (t, r, costs(t)) }
      .toDF("tier", "recall_at_5", "cost_bytes")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The planner FACE: read the stored (recall, cost) measurements,
    * choose the cheapest tier meeting [[AnnPlanRecallTarget]], and
    * SERVE that tier's own registered face, stamped with the decision.
    * The SERVE path is the store read (7 rows) plus the chosen tier's
    * face — the all-tier measurement build stays one-time under
    * [[graft.sources.TmpStores.buildOnce]] and is priced as its own
    * ScaleCheck line (`q_ann_plan_build`), not into this query.
    * Oracle-gated end to end: the differential twin re-makes the choice
    * from its sequentially measured recalls and candidate counts and
    * replays the chosen tier's expected rows — a drift in any tier's
    * recall, any probe's pruning, the cost model, or the served rows
    * fails the hash. */
  def qAnnPlan(s: SparkSession, dir: String): DataFrame = {
    val path = annPlanStorePath(dir)
    graft.sources.TmpStores.buildOnce(path)(writeAnnRecallStore(s, dir, path))
    val rows = s.read.parquet(path).collect()
    val measured = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val costs = rows.map(r => r.getString(0) -> r.getDouble(2)).toMap
    val choice = chooseAnnTier(measured, costs, AnnPlanRecallTarget)
    annTierFaces(choice)(s, dir).withColumn("tier", lit(choice))
  }

  // ---- MMR diversity re-ranking -------------------------------------------

  /** λ and 1−λ as SEPARATE literals: `1 - 0.7` is 0.30000000000000004
    * in IEEE doubles, and the DuckDB oracle writes `0.3` — the argmax
    * comparisons must run on bit-identical scores on both engines, so
    * the complement is pinned, not derived. */
  private[graft] val MmrLambda = 0.7
  private[graft] val MmrMu = 0.3
  private[graft] val MmrPool = 20
  private[graft] val MmrK = 5

  /** One selected row of the MMR output. */
  final case class MmrRow(q_id: Long, rank: Long, neighbor_id: Long,
    relevance: Double, mmr: Double)

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    * — THE diversity stage of a retrieval pipeline: greedily pick from
    * each query's candidate pool the item maximizing
    * λ·rel(q, d) − μ·max_{s∈selected} sim(d, s), so the final k trades
    * raw relevance against redundancy with what's already picked (a
    * RAG context window full of five near-identical passages wastes
    * four slots).
    *
    * Distribution shape: MMR is inherently sequential in k, but ONLY
    * within a query — the candidate pool is the ANN stage's top-N
    * (pool ≤ [[MmrPool]], query-sized by construction), so the greedy
    * loop is O(pool²·k) arithmetic over ≤ N rows running inside one
    * task per query via `flatMapGroups`, while queries themselves scale
    * out across the cluster. The candidate GENERATION is the
    * distributed part and is whatever ANN face produced the pool.
    *
    * Determinism: relevance arrives 6-rounded from the scorer;
    * candidate-candidate cosines round to 6 the same way (HALF_UP, the
    * engine round()'s rule); the score arithmetic is two multiplies and
    * a subtract on identical doubles — bit-equal on any engine — and
    * ties break by neighbor id, so the DuckDB oracle can replay the
    * greedy selection as [[graft.operators.Graph]]-style unrolled
    * stages and hash-match exactly. */
  def mmrRerank(cands: DataFrame, k: Int = MmrK,
      lambda: Double = MmrLambda, mu: Double = MmrMu): DataFrame = {
    val s = cands.sparkSession
    import s.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    cands.select(col("q_id").cast("long"), col("n_id").cast("long"),
        col("rel").cast("double"), col("emb"), col("nrm").cast("double"))
      .as[(Long, Long, Double, Seq[Float], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val pool = it.toArray
        def sim(a: (Long, Long, Double, Seq[Float], Double),
            b: (Long, Long, Double, Seq[Float], Double)): Double = {
          // left-to-right sum — the association every scorer here uses
          // (Spark aggregate(), DuckDB list_aggregate 'sum'), so the
          // rounded cosine is bit-identical to the oracle's
          var d = 0.0
          var i = 0
          val (ea, eb) = (a._4, b._4)
          while (i < ea.length) { d += ea(i).toDouble * eb(i).toDouble; i += 1 }
          round6(d / (a._5 * b._5))
        }
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double, Seq[Float], Double)]
        val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
        val out = scala.collection.mutable.ArrayBuffer.empty[MmrRow]
        var rank = 1L
        while (rank <= k && remaining.nonEmpty) {
          val scored = remaining.map { c =>
            val ms = if (selected.isEmpty) 0.0 else selected.map(sel => sim(c, sel)).max
            (c, lambda * c._3 - mu * ms)
          }
          val best = scored.reduceLeft { (x, y) =>
            if (y._2 > x._2 || (y._2 == x._2 && y._1._2 < x._1._2)) y else x
          }
          selected += best._1
          remaining -= best._1
          // the score ships UNROUNDED: both engines derive it from
          // identical doubles with identical ops, so it is bit-equal as
          // is — while rounding it would re-introduce the one case the
          // two engines' round() implementations genuinely disagree on
          // (a float half-case: BigDecimal HALF_UP sees the exact
          // decimal expansion, DuckDB's multiply-then-round sees the
          // scaled float's error)
          out += MmrRow(q, rank, best._1._2, best._1._3, best._2)
          rank += 1
        }
        out.iterator
      }
      .toDF()
  }

  /** MMR over the brute-force top-[[MmrPool]] pools — relevance and the
    * pool cut are [[qAnnTopk]]'s own scoring, so the re-rank face can
    * never diverge from the retrieval face it post-processes. */
  def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    val cands = bruteScored(s, dir)
      .filter(col("cosine").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= MmrPool)
      .select(col("q_id"), col("n_id"), col("cosine").as("rel"),
        col("n_emb").as("emb"), col("n_nrm").as("nrm"))
    mmrRerank(cands).orderBy("q_id", "rank")
  }

  /** Top-k per (score, id) as ONE expression: the native
    * [[graft.functions.TopKByScore]] aggregate, a k-capped heap per
    * group ordered by (score desc, id asc).
    *
    * Null contract: a null score or id never ranks — the aggregate skips
    * it in update(). Under this session's ANSI default a zero-norm
    * cosine fails fast before the aggregate sees a null; the contract
    * matters for non-ANSI sessions, where the cosine is NULL.
    *
    * NaN contract: NaN ranks FIRST (Spark's sort order: NaN greatest).
    * SimilaritySpec pins both contracts against a collect+sort form. */
  private[graft] def topkCol(score: Column, id: Column, k: Int): Column =
    Native.col(TopKByScore(Native.expr(score), Native.expr(id), Literal(k))
      .toAggregateExpression())

  /** [[qAnnTopk]] re-expressed as a bounded AGGREGATE instead of a
    * window: the window face sorts every scored candidate of a query
    * before discarding all but 5; this face reduces each map task's
    * candidates to a 5-entry heap BEFORE the shuffle (partial
    * aggregation — PlanSpec asserts the plan carries partial_graft_topk
    * and no Window), so the exchange carries k·queries rows instead of
    * the scored cross product. Identical output to [[qAnnTopk]] by the
    * aggregate's total-ordering contract, so it shares q_ann_topk's
    * oracle; at 100 TB this is THE brute-force formulation — the
    * window's per-query sort is the first thing that stops fitting. */
  def qAnnTopkAgg(s: SparkSession, dir: String): DataFrame =
    explodeRanks(bruteScored(s, dir)
      .groupBy("q_id")
      .agg(topkCol(col("cosine"), col("n_id"), 5).as("top")))

  // ---- multi-probe LSH ANN (Spark-native scale path) --------------------
  /** ANN via multi-probe LSH: corpus vectors sit in their own sign bucket
    * (pre-partitionable by bucket at write time, so a probe reads only its
    * bucket's partition); each query probes its exact bucket plus every
    * Hamming-1 neighbor — AnnPlanes+1 of 2^AnnPlanes buckets. Same output
    * schema as qAnnTopk minus the exactness guarantee; SimilaritySpec
    * asserts recall ≥ 0.5 against the brute-force baseline.
    */
  /** Hamming-1 multi-probe expansion of a bucketed frame's query slice
    * (vec_id ≡ 0 mod 100): one row per (query, probed bucket). */
  private def probeQueries(df: DataFrame): DataFrame = {
    val probeMasks = array((lit(0L) +: (0 until AnnPlanes).map(p => lit(1L << p))): _*)
    df.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      .withColumn("probe", explode(probeMasks))
      .withColumn("bucket", col("q_bucket").bitwiseXOR(col("probe")))
      .drop("q_bucket", "probe")
  }

  /** Rank-explode a [[topkCol]] result: (q_id, top[]) → one row per
    * neighbor with rank = array position + 1 (the array is best-first
    * by the aggregate's contract). Shared by every aggregate-ranked
    * ANN face. */
  private def explodeRanks(agg: DataFrame): DataFrame =
    agg.select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col.neighbor_id").as("neighbor_id"), col("col.cosine").as("cosine"))
      .orderBy("q_id", "rank")

  /** Bucket-joined top-5 scoring shared by the in-query LSH ANN and the
    * stored-index probe — one definition, one oracle. Ranking runs
    * through the bounded [[topkCol]] aggregate (map-side partial heaps)
    * rather than a per-query window sort — same results by the
    * aggregate's total-ordering contract, proven window-vs-aggregate in
    * SimilaritySpec and hash-proven here by the unchanged oracle. */
  private def annTopkFromBuckets(corpus: DataFrame,
      queries: DataFrame): DataFrame = {
    // A corpus vector has exactly one bucket and probe buckets are
    // distinct, so no (q, n) pair can duplicate across probes.
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(dotCol(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
    explodeRanks(scored.groupBy("q_id")
      .agg(topkCol(col("cosine"), col("n_id"), 5).as("top")))
  }

  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir))
      .withColumn("bucket", lshBucket(col("embedding"), 0 until AnnPlanes))
    annTopkFromBuckets(
      e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"), col("bucket")),
      probeQueries(e))
  }

  /** The stored-index flow end-to-end, under q_ann_lsh's ORACLE: write
    * the bucket-partitioned index, read the query slice back from the
    * index, collect its probed bucket set (≤ 2^AnnPlanes values —
    * control-plane), and score against the probe-pruned index read.
    * Materializing the index must not change a single neighbor — the
    * same claim q_dedup_gate makes for the signature store. */
  def qAnnProbe(s: SparkSession, dir: String): DataFrame = {
    val path = annStorePath(dir)
    graft.sources.TmpStores.buildOnce(path)(writeAnnIndex(s, dir, path))
    val idx = graft.sources.Stores.minusTombstones(s, path, "vec_id", s.read.parquet(path))
    // probed bucket set = the queries' OWN buckets expanded Hamming-1
    // driver-side (probeBuckets) — a narrow distinct over the query
    // slice's bucket column, not a probe-explode job over the index
    val probed = idx.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select("bucket").distinct().collect()
      .flatMap(r => probeBuckets(r.getAs[Number](0).longValue)).distinct.toSeq
    annTopkFromBuckets(
      probeAnnIndex(s, path, probed)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("nrm").as("n_nrm"), col("bucket")),
      probeQueries(idx))
  }

  /** Tmp-scoped index location for [[qAnnProbe]] — see
    * [[graft.sources.TmpStores.scopedPath]] for the scoping scheme. */
  private def annStorePath(dir: String): String =
    graft.sources.TmpStores.scopedPath("graft-annidx", dir)

  // ---- IVF ANN (inverted-file index, the second scale path) -------------
  /** IVF parameters: k coarse-quantizer centroids, nProbe lists searched
    * per query. At 100 TB the corpus is written partitioned by list id
    * (the "inverted file"), so a query reads ~nProbe/k of the data; the
    * quantizer itself is driver-side index construction over a tiny
    * sample, exactly like production IVF training. */
  private[graft] val IvfLists = 16
  private[graft] val IvfProbes = 5

  /** Lloyd refinement iterations for the IVF coarse quantizer. */
  private val IvfLloydIters = 3

  /** Training-sample size for the quantizer (driver-side; 256×64 doubles
    * is index metadata, not data movement). */
  private[graft] val IvfSeedSample = 256

  /** Sequential double-precision dot product — the driver-side twin of
    * the `graft_dot` expression (same accumulation order, so quantizer
    * training and query-probe assignment are bit-identical to what the
    * distributed expressions compute). */
  private[graft] def ddot(a: Array[Double], b: Array[Double]): Double = {
    var s0 = 0.0; var i = 0
    while (i < a.length) { s0 += a(i) * b(i); i += 1 }
    s0
  }

  /** Train the IVF coarse quantizer the way production IVF does (sample
    * → seed → Lloyd — FAISS trains on a bounded sample, never the full
    * corpus):
    *
    *  1. **Sample**: the [[IvfSeedSample]] corpus vectors with the
    *     smallest xxhash64(vec_id) — a seeded random sample, reproducible
    *     by construction. One bounded collect; everything after it until
    *     assignment is driver-side arithmetic over index metadata.
    *  2. **Seed**: farthest-point (k-means++-style) selection of
    *     [[IvfLists]] centroids from the sample — each next centroid is
    *     the sample vector with the smallest maximum cosine to those
    *     already chosen, spreading seeds across the sphere instead of
    *     wherever the random sample clumped.
    *  3. **Refine**: [[IvfLloydIters]] spherical-k-means Lloyd rounds
    *     over the sample — assign each sample vector to its nearest
    *     centroid by cosine, recompute each centroid as the (re-
    *     normalized) mean of its members' unit vectors. Driver-side and
    *     sequential, so the trained quantizer is bit-identical across
    *     partitionings and reruns; the corpus is NOT rescanned per round
    *     (at 100 TB, per-round corpus scans would make training cost
    *     scale with data instead of with the sample).
    *
    * Returns (list id, centroid, centroid norm) per list. */
  private[graft] def trainQuantizer(e: DataFrame): Array[(Int, Array[Double], Double)] = {
    // 1. training sample (driver-side: index construction, not data plane)
    val sample: Array[Array[Double]] =
      e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(IvfSeedSample)
        .select("embedding", "nrm").collect()
        .map(r => { val n = r.getDouble(1); r.getSeq[Float](0).map(_ / n).toArray })
    trainQuantizerOnSample(sample)
  }

  /** Steps 2+3 over an already-collected unit-vector sample — shared with
    * the pure-driver differential twin ([[graft.verify.Expected]]), so the
    * expected-output generator and the engine can never train different
    * quantizers. */
  private[graft] def trainQuantizerOnSample(
      sample: Array[Array[Double]]): Array[(Int, Array[Double], Double)] = {
    // fail HERE with the cause, not as a NoSuchElementException deep in
    // seeding (the stored count models' empty-model refusal convention)
    require(sample.nonEmpty,
      "cannot train an IVF quantizer on an empty embedding sample — the corpus is empty or fully filtered")
    // 2. farthest-point seeding over unit vectors (deterministic: sample
    // order is fixed, maxBy keeps the first of tied candidates)
    val seeds = scala.collection.mutable.ArrayBuffer(sample.head)
    while (seeds.size < math.min(IvfLists, sample.length)) {
      seeds += sample.maxBy(u => -seeds.map(c => ddot(u, c)).max)
    }
    // 3. Lloyd refinement on the sample (unit-vector means = spherical
    // k-means; the mean's direction is what matters, so re-normalize)
    var cents: Array[Array[Double]] = seeds.toArray
    (0 until IvfLloydIters).foreach { _ =>
      val sums = Array.fill(cents.length)(new Array[Double](Dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { u =>
        var best = 0; var bestD = Double.NegativeInfinity; var i = 0
        while (i < cents.length) {
          val d = ddot(u, cents(i)) / math.sqrt(ddot(cents(i), cents(i)))
          if (d > bestD) { bestD = d; best = i }
          i += 1
        }
        counts(best) += 1
        var d0 = 0; while (d0 < Dim) { sums(best)(d0) += u(d0); d0 += 1 }
      }
      cents = cents.zipWithIndex.map { case (c, i) =>
        // empty lists keep their seed (can't recenter nothing); the mean
        // and the sum share a direction, so skip the /count
        if (counts(i) == 0 || ddot(sums(i), sums(i)) == 0) c else sums(i)
      }
    }
    cents.zipWithIndex.map { case (c, i) => (i, c, math.sqrt(ddot(c, c))) }
  }

  /** Per-centroid (cosine, list id) score structs for a vector; argmax =
    * array_max's lexicographic struct order (score first). The native
    * [[graft.functions.IvfScores]] kernel — the quantizer rides as one
    * packed literal instead of IvfLists × Dim per-component `lit()`s. */
  private def ivfScores(centroids: Array[(Int, Array[Double], Double)])(
      emb: Column, nrm: Column): Column =
    Native.col(IvfScores(Native.expr(emb), Native.expr(nrm), Native.expr(
      typedlit(centroids.map { case (i, c, cn) => (i, c.toSeq, cn) }.toSeq))))

  /** Nearest-centroid list assignment (the corpus side of IVF). */
  private def ivfListId(centroids: Array[(Int, Array[Double], Double)])(
      emb: Column, nrm: Column): Column =
    array_max(ivfScores(centroids)(emb, nrm)).getField("list_id")

  /** The [[IvfProbes]] nearest lists for a query vector, as an exploded
    * column (one row per probed list). */
  private def ivfProbeLists(centroids: Array[(Int, Array[Double], Double)])(
      emb: Column, nrm: Column): Column =
    explode(slice(transform(reverse(array_sort(ivfScores(centroids)(emb, nrm))),
      x => x.getField("list_id")), 1, IvfProbes))

  // ---- k-means clustering faces (data curation) ---------------------------
  /** Per-cluster sample size for [[qClusterSample]]. */
  private[graft] val ClusterSampleK = 5

  /** The (cosine, cluster) argmax pair of a vector against the trained
    * centroids — [[ivfListId]] exposing the winning score too. */
  private def ivfAssign(centroids: Array[(Int, Array[Double], Double)])(
      emb: Column, nrm: Column): Column =
    array_max(ivfScores(centroids)(emb, nrm))

  /** (vec_id, cluster_id, sim) — every embedding assigned to its nearest
    * trained centroid, the shared base of both clustering faces. */
  private def assignedClusters(vectors: DataFrame): DataFrame = {
    val e = withNorm(vectors)
    val centroids = trainQuantizer(e)
    e.select(col("vec_id"),
        ivfAssign(centroids)(col("embedding"), col("nrm")).as("a"))
      .select(col("vec_id"), col("a").getField("list_id").as("cluster_id"),
        col("a").getField("score").as("sim"))
  }

  /** K-means cluster PROFILE over the embedding corpus — the curation
    * view SemDeDup-style pipelines start from (arXiv:2303.09540 clusters
    * before comparing): per cluster, its population and mean
    * member-to-centroid cosine. Training is the IVF coarse quantizer
    * verbatim ([[trainQuantizer]] — bounded sample, farthest-point
    * seeds, Lloyd rounds, all driver-side index metadata); assignment is
    * ONE corpus scan through the broadcast-centroid argmax expression;
    * the profile is one k-keyed aggregate. Per-member cosines are
    * fixed-pointed to 1e-6 longs before the mean ([[graft.operators.Search.bm25]]'s
    * determinism trick). DuckDB cannot replay quantizer training, so
    * correctness rides a differential Expected twin sharing exactly
    * [[trainQuantizerOnSample]] and [[ddot]], with assignment and the
    * mean re-derived sequentially. */
  def qKmeans(s: SparkSession, dir: String): DataFrame =
    kmeansFrom(Tables.embeddings(s, dir))

  private[graft] def kmeansFrom(vectors: DataFrame): DataFrame =
    assignedClusters(vectors)
      .withColumn("fp", round(col("sim") * lit(1e6)).cast(org.apache.spark.sql.types.LongType))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        round(sum("fp") / lit(1e6) / count(lit(1)), 6).as("mean_sim"))
      .orderBy("cluster_id")

  /** Cluster-BALANCED deterministic sampling — the inspection-panel /
    * diversity-sampling primitive (k docs from every region of the
    * embedding space, not k of whatever dominates): exactly
    * [[ClusterSampleK]] vectors per cluster by 32-bit md5-prefix
    * priority, drawn through the bounded `graft_topk` partial aggregate
    * ([[graft.operators.TextOps.qSamplePerGroup]]'s discipline — k rows
    * per map task cross the shuffle, no per-cluster sort), on top of
    * [[assignedClusters]]' one-scan assignment. RNG-free and keyed on
    * the stable vec_id, so any rerun draws the same panel. */
  def qClusterSample(s: SparkSession, dir: String): DataFrame =
    clusterSampleFrom(Tables.embeddings(s, dir))

  private[graft] def clusterSampleFrom(vectors: DataFrame): DataFrame = {
    val pri = conv(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double")
    assignedClusters(vectors)
      .select(col("cluster_id"), col("vec_id"), pri.as("pri"))
      .groupBy("cluster_id")
      .agg(topkCol(col("pri"), col("vec_id"), ClusterSampleK).as("top"))
      .select(col("cluster_id"), explode(col("top.neighbor_id")).as("vec_id"))
      .orderBy("cluster_id", "vec_id")
  }

  /** ANN via an inverted-file index: train the quantizer
    * ([[trainQuantizer]]), assign corpus rows to their nearest centroid
    * in one scan, probe the nProbe nearest lists per query. Same schema
    * as qAnnTopk; recall vs brute force asserted in SimilaritySpec
    * (seeding+refinement is what lifts the asserted bound from 0.5 to
    * 0.7 on this corpus). The in-query face of the STORED index flow —
    * [[writeIvfIndex]]/[[qIvfProbe]] materialize exactly this
    * assignment, and SimilaritySpec proves the stored probe returns
    * these results verbatim. */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame =
    qAnnIvfFrom(Tables.embeddings(s, dir))

  /** [[qAnnIvf]] over an arbitrary (vec_id, embedding[, …]) frame — the
    * in-query IVF face SimilaritySpec runs against constructed corpora
    * (e.g. the zero-norm NaN-query equivalence case). */
  private[graft] def qAnnIvfFrom(vectors: DataFrame): DataFrame = {
    val e = withNorm(vectors)
    val centroids = trainQuantizer(e)
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"),
        ivfListId(centroids)(col("embedding"), col("nrm")).as("bucket"))
    val queries = e.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        ivfProbeLists(centroids)(col("embedding"), col("nrm")).as("bucket"))
    annTopkFromBuckets(corpus, queries)
  }

  // ---- SemDeDup-style semantic dedup (within-cluster cosine) ------------
  /** Semantic-dedup cosine threshold. The synthetic corpus tops out at
    * ≈0.51 pairwise (see [[qEmbedNeardup]]'s note), so the demo threshold
    * sits in the corpus' near-dup band; a production run over real
    * embeddings raises it to ~0.95+. Shared with the differential twin
    * ([[graft.verify.Expected.semanticRows]]) so both faces evaluate one
    * parameterization. */
  private[graft] val SemDedupTau = 0.4

  /** Sub-block count for the within-cluster pair join: members hash into
    * [[SemBlocks]] blocks and pairs are generated per block-PAIR cell, so
    * the join's parallelism is k·B(B+1)/2 instead of k. */
  private[graft] val SemBlocks = 8

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public method): partition the embedding space
    * with the SAME coarse quantizer the IVF tier trains
    * ([[trainQuantizer]] — one quantizer for every embedding face), then
    * mark a vector droppable when a lower-id member of its OWN cluster
    * sits within cosine [[SemDedupTau]]. One row per dropped vector with
    * its best qualifying keeper (max cosine, ties → smallest keep_id).
    *
    * Scale design — the pairwise stage is quadratic only WITHIN a
    * cluster, and both blowup axes are bounded:
    *  - cluster count k is a quantizer parameter: production SemDeDup
    *    picks k ∝ corpus / target-cluster-size (10k–100k clusters), so
    *    per-cluster membership — and with it the per-cluster pair count
    *    — stays bounded as the corpus grows. k = [[IvfLists]] here only
    *    because the test corpus is tiny.
    *  - parallelism does NOT degrade to k tasks (the q_token_shards
    *    lesson): members hash into [[SemBlocks]] sub-blocks and the
    *    self-join runs per block-pair cell — the A side replicates a
    *    block-i row into cells (i, i..B-1), the B side into (0..j, j) —
    *    so the exchange carries k·B(B+1)/2 distinct keys. The trade is
    *    explicit: ~(B+1)/2× row replication in the shuffle buys ~B²/2×
    *    the parallelism (the bounded-replication all-pairs
    *    decomposition). Cell (i,i) produces both orientations of its
    *    pairs; the least/greatest canonicalization plus the max-struct
    *    agg absorbs the duplicates (max over equal rows), so the pair
    *    SET is exactly "all within-cluster pairs" — SimilaritySpec pins
    *    it against planted clone groups and ExpectedSpec against the
    *    sequential twin bit-for-bit.
    */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame =
    qDedupSemanticFrom(Tables.embeddings(s, dir))

  /** [[qDedupSemantic]] over an arbitrary (vec_id, embedding, …) frame —
    * what SimilaritySpec runs against constructed clone-group corpora. */
  private[graft] def qDedupSemanticFrom(vectors: DataFrame): DataFrame = {
    val e = withNorm(vectors)
    val cents = trainQuantizer(e)
    val assigned = e.select(col("vec_id"), col("embedding"), col("nrm"),
        ivfListId(cents)(col("embedding"), col("nrm")).as("list_id"))
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(SemBlocks)).cast("int"))
    val a = assigned.select(col("list_id"), col("blk").as("b_lo"),
      explode(sequence(col("blk"), lit(SemBlocks - 1))).as("b_hi"),
      col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("list_id"),
      explode(sequence(lit(0), col("blk"))).as("b_lo"), col("blk").as("b_hi"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b.hint("shuffle_hash"), Seq("list_id", "b_lo", "b_hi"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cosine",
        round(dotCol(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6))
      // Spark double comparison: NaN qualifies (NaN > any value) — the
      // twin replays that explicitly for degenerate zero-norm vectors
      .filter(col("cosine") >= SemDedupTau)
      .select(col("list_id"),
        least(col("id_a"), col("id_b")).as("keep_id"),
        greatest(col("id_a"), col("id_b")).as("drop_id"),
        col("cosine"))
      .groupBy(col("drop_id"), col("list_id"))
      .agg(max(struct(col("cosine").as("cosine"), (-col("keep_id")).as("neg_keep"))).as("best"))
      .select(col("drop_id"), (-col("best.neg_keep")).as("keep_id"),
        col("list_id"), col("best.cosine").as("cosine"))
      .orderBy("drop_id")
  }

  // ---- materialized IVF index (train once, store, probe-pruned reads) ---
  /** Quantizer sidecar location inside an IVF index dir. The underscore
    * prefix keeps Spark's file listing from treating it as corpus data,
    * so `read.parquet(path)` sees only the inverted lists while the
    * sidecar still rides inside the store dir — one directory IS the
    * index, and the crash-safe swap/recover machinery covers both. */
  private def centroidsPath(path: String): String = path + "/_centroids"

  private def writeCentroids(s: SparkSession, path: String,
      cents: Array[(Int, Array[Double], Double)]): Unit = {
    import s.implicits._
    cents.toSeq.map { case (i, c, cn) => (i, c.toSeq, cn) }
      .toDF("list_id", "centroid", "cnorm")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
  }

  /** Load the stored quantizer — [[IvfLists]] rows of index metadata,
    * list-id-ordered so downstream expression generation is stable. */
  def readCentroids(s: SparkSession, path: String): Array[(Int, Array[Double], Double)] = {
    graft.sources.Stores.recover(s, path)
    s.read.parquet(centroidsPath(path)).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
  }

  /** Materialize the inverted file: train the quantizer, assign every
    * corpus vector to its nearest list in ONE scan, and write the corpus
    * partitioned by (list_id, batch_id) with the trained centroids as a
    * sidecar. This is what kills qAnnIvf's per-invocation cost at scale:
    * training and assignment are paid at write time, and every later
    * query is centroid-metadata reads + a probe-pruned scan of
    * nProbe/k of the data ([[qIvfProbe]]; PlanSpec asserts the pruning
    * reaches the scan). Same store discipline as [[writeAnnIndex]]:
    * one task per list, batch_id=-1 marks the deduped bootstrap.
    *
    * Crash-safe: the index has TWO artifacts (lists + quantizer
    * sidecar), so the whole bootstrap writes aside and swaps via
    * [[graft.sources.Stores.overwriteAside]] — a crash at any point
    * leaves the old index (possibly via recover()), never a
    * sidecar-less live dir (SimilaritySpec plants the crash states). */
  def writeIvfIndex(s: SparkSession, dir: String, path: String): Unit =
    writeIvfIndexFrom(s, Tables.embeddings(s, dir), path)

  /** [[writeIvfIndex]] over an arbitrary (vec_id, embedding[, …]) frame —
    * the bootstrap entry point when the corpus slice isn't a whole
    * dataset (StreamingSpec's vector-ingest spec bootstraps from a
    * half-corpus and grows the index per micro-batch). */
  def writeIvfIndexFrom(s: SparkSession, vectors: DataFrame, path: String): Unit = {
    val e = withNorm(vectors)
    val cents = trainQuantizer(e)
    graft.sources.Stores.overwriteAside(s, path) { tmp =>
      graft.sources.Sinks.overwritePartitioned(
        e.withColumn("list_id", ivfListId(cents)(col("embedding"), col("nrm")))
          .withColumn("batch_id", lit(-1L))
          .repartition(col("list_id")),
        tmp, Seq("list_id", "batch_id"))
      // the sidecar lands INSIDE the temp dir, before the swap — the
      // live index is never visible without its quantizer
      writeCentroids(s, tmp, cents)
    }
  }

  /** Grow the IVF index with the STORED quantizer — new vectors are
    * assigned against the centroids trained at write time (production
    * IVF semantics: the quantizer is fixed until a rebuild; re-training
    * per batch would silently shift every list boundary). Replay-
    * idempotent: the batch's rows land as a dynamic overwrite of their
    * (list_id, batch_id) partitions — the same contract
    * [[appendAnnIndexBatch]] carries for the LSH index. */
  def appendIvfIndexBatch(s: SparkSession, newVectors: DataFrame, path: String,
      batchId: Long): Unit =
      graft.sources.StoreLock.withLock(path, "append") {
    require(batchId >= 0, "scoped batch ids are non-negative (negatives are store-internal)")
    val cents = readCentroids(s, path)
    graft.sources.IdBloom.absorb(s, path, newVectors.select("vec_id"))
    graft.sources.Sinks.overwritePartitionsDynamic(
      withNorm(newVectors)
        .withColumn("list_id", ivfListId(cents)(col("embedding"), col("nrm")))
        .withColumn("batch_id", lit(batchId)),
      path, Seq("list_id", "batch_id"))
  }

  /** Compact the IVF index — [[compactAnnIndex]]'s contract on the list
    * layout (fold the batches below the replay watermark, preserve the
    * rest verbatim, crash-safe swap), with one extra obligation: the quantizer sidecar
    * must ride through the swap, because the lists are only meaningful
    * under the centroids that assigned them. */
  def compactIvfIndex(s: SparkSession, path: String, foldBelow: Long = 0L): Unit =
      graft.sources.StoreLock.withLock(path, "compact") {
    graft.sources.Stores.recover(s, path)
    graft.sources.Stores.clearResidue(s, path)
    // pending retractions force the rewrite even on a pristine layout —
    // compaction is their physical-purge step (the swapped-in dir never
    // contained the _tombstones sidecar)
    if (graft.sources.Stores.subPartitionDirs(s, path)
          .filter(_.startsWith("batch_id=")).subsetOf(Set("batch_id=-1"))
        && !graft.sources.Stores.hasTombstones(s, path)) return
    val cents = readCentroids(s, path) // before the swap: read off the live dir
    // tombstoned rows purge from the FOLDED branch only; scoped
    // partitions at/above the replay watermark stay verbatim, so the
    // sidecar rides through the swap while any remain — else a replayed
    // appendIvfIndexBatch would resurrect retracted vectors with
    // nothing left to hide them (compactSignatures' rule; `foldBelow`
    // is the caller's no-more-replays watermark, without which a store
    // that ever saw a scoped batch could never complete a delete)
    val scopedRemain = graft.sources.Stores.replayProtectedRemain(s, path, foldBelow)
    graft.sources.Stores.compactInPlace(s, path)( df0 => {
      val df = graft.sources.Stores.minusTombstones(s, path, "vec_id", df0)
      val folded = df.filter(col("batch_id") < foldBelow)
        .withColumn("batch_id", lit(-1L)).dropDuplicates()
      folded.unionByName(df0.filter(col("batch_id") >= foldBelow)
        .withColumn("batch_id", col("batch_id").cast("long")))
    })(
      (df, tmp) => {
        graft.sources.Sinks.overwritePartitioned(
          df.repartition(col("list_id")), tmp, Seq("list_id", "batch_id"))
        writeCentroids(s, tmp, cents)
        if (scopedRemain) graft.sources.Stores.carryTombstonesInto(s, path, tmp)
        // folding scoped batches bounds the as-of horizon (the vacuum
        // rule; see probeIvfIndexAsOf)
        graft.sources.Stores.writeHorizonInto(s, path, tmp, foldBelow)
      })
  }

  /** [[probeIvfIndex]] AS OF admission batch `asOf` — the vector
    * store's member of the data-plane time-travel family
    * ([[graft.operators.Dedup.gateAgainstStoredAsOf]] documents the
    * shared semantics: partition-filtered read, retractions erase
    * history, compaction bounds the horizon with a loud refusal). The
    * centroid sidecar needs no slicing: the quantizer is frozen at
    * write time (see [[appendIvfIndexBatch]]), so every historical state
    * probed under today's centroids IS what a reader probed then. */
  def probeIvfIndexAsOf(s: SparkSession, path: String, lists: Seq[Int],
      asOf: Long): DataFrame = {
    graft.sources.Stores.requireAsOfReconstructable(s, path, asOf)
    probeIvfIndex(s, path, lists)
      .filter(col("batch_id").cast("long") <= asOf)
  }

  /** The stored IVF index answered AS OF a pre-append, post-retraction
    * state ([[qAnnAsof]]'s scenario on the inverted file): bootstrap
    * without the %10 = 5 vectors — which is also the quantizer's
    * training corpus, frozen thereafter — append the rest as batch 7,
    * retract every %7 = 3 vector, answer top-5 as of batch 6. The
    * differential twin ([[graft.verify.Expected.ivfAsofRows]]) trains
    * on the bootstrap but serves the survivors — the train/serve split
    * that distinguishes a frozen-quantizer store from a rebuild, which
    * is exactly what this query pins. */
  def qIvfAsof(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
    val late = pmod(col("vec_id"), lit(10L)) === 5
    val retr = pmod(col("vec_id"), lit(7L)) === 3
    val path = graft.sources.TmpStores.scopedPath("graft-ivfasof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeIvfIndexFrom(s, vecs.filter(!late), path)
      appendIvfIndexBatch(s, vecs.filter(late), path, 7L)
      retractVectors(s, path,
        vecs.filter(retr).select("vec_id").collect().map(_.getLong(0)).toSeq)
    }
    val cents = readCentroids(s, path)
    val idxAsOf = graft.sources.Stores.minusTombstones(s, path, "vec_id",
        s.read.parquet(path))
      .filter(col("batch_id").cast("long") <= 6L)
    val queries = idxAsOf.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        ivfProbeLists(cents)(col("embedding"), col("nrm")).as("bucket"))
    annTopkFromBuckets(
      probeIvfIndexAsOf(s, path, storedProbedLists(queries), asOf = 6L)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("nrm").as("n_nrm"), col("list_id").as("bucket")),
      queries)
  }

  /** Retract vectors from a stored index (IVF or LSH) — the
    * embedding-store half of the deletion story, on the shared
    * tombstone protocol ([[graft.sources.Stores.retractIds]]; the
    * signature store's [[Dedup.retractSignatures]] documents it):
    * tombstoned vec_ids vanish from every probe immediately, and the
    * first compaction whose replay watermark covers every scoped batch
    * physically purges them in its atomic swap (until then the sidecar
    * rides through each swap so a replayed batch cannot resurrect
    * them).
    * The quantizer/centroid sidecar is untouched — centroids are
    * trained statistics, not per-vector state; like the signature
    * store's Bloom sidecar they may describe retracted mass until a
    * rebuild, and like it they stay sound (a centroid is a routing
    * hint, not an answer — the probe read simply no longer returns the
    * retracted rows the hint pointed at). */
  def retractVectors(s: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    graft.sources.Stores.retractIds(s, path, "vec_id", vecIds)

  /** Probe-side scan of the inverted file: the `isin` over the list_id
    * partition column prunes to ≤ [[IvfProbes]] of [[IvfLists]]
    * directories before any row is read; pending retractions subtract
    * via a broadcast anti-join. */
  def probeIvfIndex(s: SparkSession, path: String, lists: Seq[Int]): DataFrame = {
    graft.sources.Stores.recover(s, path)
    graft.sources.Stores.minusTombstones(s, path, "vec_id",
      s.read.parquet(path).filter(col("list_id").isin(lists: _*)))
  }

  /** Tmp-scoped IVF index location for [[qIvfProbe]]. */
  private def ivfStorePath(dir: String): String =
    graft.sources.TmpStores.scopedPath("graft-ivfidx", dir)

  /** The stored-IVF flow end-to-end: write the index (train + assign,
    * paid once), then answer with STORED artifacts only — centroids
    * loaded from the sidecar (≤ [[IvfLists]] rows of index metadata),
    * query probes assigned IN-PLAN by the same [[ivfProbeLists]]
    * expression the in-query face uses, and the corpus read pruned to
    * the probed list directories. Materializing the index must not
    * change a single neighbor: SimilaritySpec asserts this query equals
    * [[qAnnIvf]] verbatim — the claim q_ann_probe already proved for
    * the LSH tier. */
  def qIvfProbe(s: SparkSession, dir: String): DataFrame = {
    val path = ivfStorePath(dir)
    graft.sources.TmpStores.buildOnce(path)(writeIvfIndex(s, dir, path))
    qIvfProbeStored(s, path)
  }

  /** The stored query slice with its probe lists assigned IN-PLAN: the
    * broadcast-centroid [[ivfProbeLists]] expression explodes each query
    * row into ([[IvfProbes]], bucket) rows inside the plan — no query
    * vector ever crosses the driver (the degenerate-input contracts —
    * NULL scores from a zero divisor sort last, NaN scores first — are
    * the expression's own semantics, identical on both faces by
    * construction; SimilaritySpec's zero-norm case pins them).
    * Package-private so PlanSpec can assert the derivation is a plan
    * node (a Generate over the query scan), not a driver loop. */
  private[graft] def storedProbeQueries(s: SparkSession, path: String): DataFrame = {
    val cents = readCentroids(s, path)
    graft.sources.Stores.minusTombstones(s, path, "vec_id", s.read.parquet(path))
      .filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        ivfProbeLists(cents)(col("embedding"), col("nrm")).as("bucket"))
  }

  /** The union of all queries' probed list ids — the ONLY thing the
    * driver collects in the stored flow: a distinct over the probe
    * column, ≤ [[IvfLists]] values of partition-pruning metadata
    * (the LSH pattern of [[qAnnProbe]]'s probed-bucket set). */
  private[graft] def storedProbedLists(queries: DataFrame): Seq[Int] =
    queries.select("bucket").distinct()
      .collect().map(_.getAs[Number](0).intValue).toSeq.sorted

  /** The probe half of [[qIvfProbe]] over an ALREADY-WRITTEN index —
    * stored artifacts only. Split out so SimilaritySpec can probe
    * indexes built from constructed corpora ([[writeIvfIndexFrom]]) and
    * assert stored ≡ in-query on them too. The query slice is built
    * ONCE and shared between the pruning-metadata collect (an eager
    * column-pruned job over it) and the answer plan — the probe
    * assignment still evaluates in each job (the collect must run
    * before literal partition filters can exist), but both read one
    * plan, and the derivation job prunes to the bucket column. */
  private[graft] def qIvfProbeStored(s: SparkSession, path: String): DataFrame = {
    val queries = storedProbeQueries(s, path)
    annTopkFromBuckets(
      probeIvfIndex(s, path, storedProbedLists(queries))
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("nrm").as("n_nrm"), col("list_id").as("bucket")),
      queries)
  }

  // ---- PQ ANN (product quantization, the third scale tier) --------------
  /** PQ parameters: [[PqSubspaces]] subspaces of [[PqSubDim]] dims, each
    * quantized to one of [[PqCodes]] centroids — a vector compresses to
    * M 4-bit codes (+ one reconstruction norm), 64 floats → 16 bytes
    * here. Where IVF prunes WHICH vectors a query reads, PQ shrinks WHAT
    * a read costs: the scored scan streams codes instead of vectors, and
    * the two compose (IVF-PQ is the production pairing — Jégou et al.
    * 2011, "Product quantization for nearest neighbor search", public
    * method). Subspace width trades compression against distortion: the
    * synthetic corpus is near-uniform (top-5 cosine margins are tiny), so
    * the demo uses narrow 2-dim subspaces — 16 codes over 2 dims keeps
    * enough rank fidelity to measure honest recall; clustered production
    * embeddings run wider subspaces (classic 8×256) at the same recall. */
  private[graft] val PqSubspaces = 32
  private[graft] val PqSubDim = Dim / PqSubspaces
  private[graft] val PqCodes = 16
  private val PqLloydIters = 3

  /** RAW training sample (the [[trainQuantizer]] selection without the
    * unit normalization — PQ quantizes subvector VALUES, not directions):
    * the [[IvfSeedSample]] vectors with the smallest xxhash64(vec_id). */
  private[graft] def pqSample(vectors: DataFrame): Array[Array[Double]] =
    vectors.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(IvfSeedSample)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Train the PQ codebook over an already-collected raw sample: per
    * subspace, farthest-point seeding + [[PqLloydIters]] Euclidean Lloyd
    * rounds (squared-distance objective — the spherical variant in
    * [[trainQuantizerOnSample]] would discard subvector magnitudes, which
    * is exactly what PQ must preserve). Driver-side, sequential,
    * deterministic; SHARED with the differential twin
    * ([[graft.verify.Expected.pqRows]]) — the trainQuantizerOnSample
    * contract: twin and engine must train one codebook.
    * Returns codebook(m)(k) = the k-th centroid of subspace m. */
  private[graft] def trainPqOnSample(sample: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty,
      "cannot train a PQ codebook on an empty embedding sample — the corpus is empty or fully filtered")
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
      s0
    }
    (0 until PqSubspaces).map { m =>
      val sub = sample.map(v => v.slice(m * PqSubDim, (m + 1) * PqSubDim))
      // farthest-point seeding (deterministic: maxBy keeps the first tie)
      val seeds = scala.collection.mutable.ArrayBuffer(sub.head)
      while (seeds.size < math.min(PqCodes, sub.length)) {
        seeds += sub.maxBy(u => seeds.map(c => d2(u, c)).min)
      }
      var cents: Array[Array[Double]] = seeds.toArray
      (0 until PqLloydIters).foreach { _ =>
        val sums = Array.fill(cents.length)(new Array[Double](PqSubDim))
        val counts = new Array[Int](cents.length)
        sub.foreach { u =>
          var best = 0; var bestD = Double.PositiveInfinity; var i = 0
          while (i < cents.length) {
            val d = d2(u, cents(i))
            if (d < bestD) { bestD = d; best = i }
            i += 1
          }
          counts(best) += 1
          var j = 0; while (j < PqSubDim) { sums(best)(j) += u(j); j += 1 }
        }
        // an empty cell keeps its seed (can't recenter nothing)
        cents = cents.zipWithIndex.map { case (c, i) =>
          if (counts(i) == 0) c else sums(i).map(_ / counts(i))
        }
      }
      cents
    }.toArray
  }

  /** Per-(subspace, code) squared centroid norms — shared between the
    * engine expressions and the twin so both faces subtract and
    * reconstruct with the same scalars. */
  private[graft] def pqCn2(cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cb.map(_.map(c => ddot(c, c)))

  /** The trained codebook as ONE nested-array literal — a single plan
    * node, versus the ~512 per-centroid `lit()` subtrees a builtin
    * argmax tree would inline twice per query. */
  private def pqCbLit(cb: Array[Array[Array[Double]]]): Expression =
    Native.expr(typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq))

  /** Per-subspace code assignment, in-plan: argmin squared distance ==
    * argmax of (dot(x_m, c) − ‖c‖²/2) (the ‖x_m‖² term is
    * code-independent) — ties take the larger code (the kernel's `>=`
    * on ascending codes). The native [[graft.functions.PqEncode]]: one
    * expression node, tight loop. */
  private def pqCodeCols(cb: Array[Array[Array[Double]]])(emb: Column): Column =
    Native.col(PqEncode(Native.expr(emb), pqCbLit(cb)))

  /** ‖reconstruction‖ from the codes alone: √(Σ_m ‖c_{m,code_m}‖²) —
    * subspace centroids are orthogonal blocks, so the reconstruction's
    * squared norm is the sum of its parts'. */
  private def pqReconNorm(cb: Array[Array[Array[Double]]])(codes: Column): Column = {
    // the ‖c‖² table as one nested literal (same node-count argument as
    // pqCbLit); the sum stays a left fold in subspace order — the twin's
    // `.sum` — so the recon norm is bit-stable across both forms
    val cn2Lit = typedlit(pqCn2(cb).map(_.toSeq).toSeq)
    sqrt((0 until PqSubspaces).map { m =>
      element_at(element_at(cn2Lit, m + 1), codes.getItem(m) + 1)
    }.reduce[Column](_ + _))
  }

  /** The query-side ADC lookup table, built ONCE per query row before the
    * join: lut(m)(k) = dot(q_m, c_{m,k}). Scoring a corpus row is then M
    * two-level element_ats + adds — the asymmetric-distance trick that
    * makes a PQ scan cheap. */
  private def pqLut(cb: Array[Array[Array[Double]]])(qEmb: Column): Column =
    Native.col(PqLut(Native.expr(qEmb), pqCbLit(cb)))

  /** ADC approximate dot: Σ_m lut(m)(code_m), summed in subspace order —
    * the native [[graft.functions.PqAdc]] kernel (r22, guide §4 "prefer
    * codegen-friendly expressions in the hot path"): this expression is
    * the inner loop of every PQ serve scan, evaluated once per (corpus
    * row × probing query) pair under the ADC cross/bucket join, where an
    * element_at tree would pay 16 two-level lookups (bounds checks + null
    * checks + nested array derefs) per pair. */
  private def pqAdc(lut: Column, codes: Column): Column =
    Native.col(PqAdc(Native.expr(lut), Native.expr(codes)))

  /** ANN top-5 via product quantization: the brute-force scan shape of
    * [[qAnnTopkAgg]], but the corpus side the join streams is 16 code
    * bytes + a norm per vector instead of 64 floats — a 16× smaller scan
    * (25 TB of vectors → ~1.6 TB of codes at 100 TB corpus scale).
    * Encoding (one scan through the broadcast-codebook argmax
    * expressions) is paid once; queries carry their ADC lookup tables
    * through the broadcast. Approximation quality is MEASURED, not
    * asserted: SimilaritySpec bounds recall@5 vs the exact brute force;
    * correctness of the machinery rides a differential Expected twin
    * (DuckDB cannot replay codebook training). */
  def qAnnPq(s: SparkSession, dir: String): DataFrame =
    qAnnPqFrom(Tables.embeddings(s, dir))

  private[graft] def qAnnPqFrom(vectors: DataFrame): DataFrame =
    explodeRanks(pqAdcTop(vectors, 5))

  /** ONE materialized normalized-corpus frame per PQ-family query (r22,
    * the r21 verdict's prescribed writeAnnRecallStore treatment, guide
    * §5 persist-for-reuse): the sample collect, the code-projection
    * scan, the query-LUT slice, and (for the refine faces) both exact
    * re-rank sides each re-read the parquet and re-derived the norm —
    * up to NINE corpus passes per query. A lazy local checkpoint
    * materializes on the sample collect (the query's first action) and
    * every later consumer reads the stored blocks; blocks release with
    * the RDD through the context cleaner, the gateAgg discipline (a
    * persist() here would pin them until an unpersist nobody can issue
    * under the lazy-result contract). Join strategies cannot drift: the
    * query/shortlist sides all carry explicit broadcast() hints, so the
    * LogicalRDD's missing size estimate decides nothing. */
  private def pqSharedNorm(vectors: DataFrame): DataFrame =
    // projected to what the PQ faces read (guide §2.3 "project before
    // you materialize"): none of them touches `label`, and a checkpoint
    // is opaque to downstream column pruning
    withNorm(vectors.select("vec_id", "embedding")).localCheckpoint(eager = false)

  /** The flat PQ ADC scan aggregated to top-`k` per query — ONE body
    * for the served top-5 face ([[qAnnPq]], k=5) and the refinement
    * shortlist ([[qPqRefine]], k=[[PqRefineR]]); r18 review: the two
    * were near-copies, one drift away from silently diverging from
    * their shared Expected twin machinery. One corpus scan over
    * 16-byte codes, broadcast query LUTs, partial-aggregate top-k —
    * k before the shuffle. */
  private def pqAdcTop(vectors: DataFrame, k: Int): DataFrame = {
    val e = pqSharedNorm(vectors)
    pqAdcTopOver(e, trainPqOnSample(pqSample(e)), k)
  }

  /** [[pqAdcTop]] over an already-materialized normalized frame and an
    * already-trained codebook — the seam that lets [[qPqRefine]] share
    * one corpus materialization between the ADC shortlist scan and the
    * exact re-rank (and [[pqAdcTop]] share it with the sample collect). */
  private def pqAdcTopOver(e: DataFrame,
      cb: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val corpus = e.select(col("vec_id").as("n_id"),
        pqCodeCols(cb)(col("embedding")).as("codes"))
      .withColumn("recon_nrm", pqReconNorm(cb)(col("codes")))
    val queries = e.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("nrm").as("q_nrm"),
        pqLut(cb)(col("embedding")).as("lut"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine",
        round(pqAdc(col("lut"), col("codes")) / (col("q_nrm") * col("recon_nrm")), 6))
      .groupBy("q_id")
      .agg(topkCol(col("cosine"), col("n_id"), k).as("top"))
  }

  // ---- PQ + exact re-rank (the standard refinement stage) ----------------

  /** Shortlist size for the refinement faces — at this corpus scale 50
    * plays the role production's ~4k candidates do: comfortably above
    * k=5, small enough that the re-rank's exact reads stay a rounding
    * error next to the candidate scan. */
  private[graft] val PqRefineR = 50

  /** (q_id, n_id) candidate ids out of an aggregated top-k frame. */
  private def shortlistIds(agg: DataFrame): DataFrame =
    agg.select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.neighbor_id").as("n_id"))

  /** Stage 2 of BOTH refinement faces: EXACT cosine over the
    * |queries|×R shortlist only, re-ranked to top-5. The shortlist
    * broadcasts into an id-join against the corpus (at deployment
    * scale: a pruned point-read face of the vector store — the bounded
    * "extra reads" of the refine stage), so full-precision vectors are
    * never scanned, only fetched for the shortlist. */
  private def exactRerank(e: DataFrame, shortlist: DataFrame): DataFrame = {
    val exactQ = e.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val exactC = e.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    explodeRanks(exactC.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(exactQ), Seq("q_id"))
      .withColumn("cosine",
        round(dotCol(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
      .groupBy("q_id")
      .agg(topkCol(col("cosine"), col("n_id"), 5).as("top")))
  }

  /** The PQ tier's REFINEMENT stage (r17 verdict item 6): ADC over the
    * compressed codes shortlists [[PqRefineR]] candidates per query
    * ([[pqAdcTop]] — the served face's own scan, deeper top-k), then
    * EXACT cosine re-ranks just that shortlist to the final top-5
    * ([[exactRerank]]) — the standard two-stage serve path (shortlist
    * on codes, refine on originals) that turns PQ from "measured
    * recall" into "tunable to a recall target" (raise R until recall@5
    * meets the target; the ADC stage's cost is unchanged). */
  def qPqRefine(s: SparkSession, dir: String): DataFrame = {
    // ONE shared corpus materialization (pqSharedNorm) feeds the sample,
    // the ADC shortlist scan, AND both exact re-rank sides — the r21
    // shape re-normalized the corpus separately for each (8 scans in
    // plans/r22/q_pq_refine_before.txt)
    val e = pqSharedNorm(Tables.embeddings(s, dir))
    val cb = trainPqOnSample(pqSample(e))
    exactRerank(e, shortlistIds(pqAdcTopOver(e, cb, PqRefineR)))
  }

  // ---- IVF-PQ (the production pairing of the two tiers) ------------------
  /** IVF list pruning COMPOSED with PQ ADC scoring — the standard
    * large-scale ANN deployment (FAISS's IVFPQ shape, Jégou et al. 2011):
    * the coarse quantizer bounds WHICH vectors a query scores
    * (nProbe/k of the corpus) and the PQ codes bound what each scored
    * row COSTS (16 code bytes, no vector read). At 100 TB the two
    * multiply: a query touches 5/16 of the data at 1/16 the bytes —
    * ~2% of a brute-force scan's I/O. Both trainers are the existing
    * bounded-sample driver-side procedures; one corpus scan emits list
    * id + codes together. Accuracy rides the same differential
    * discipline as the parents: an Expected twin re-derives the whole
    * pipeline sequentially, and SimilaritySpec measures recall against
    * brute force. */
  def qIvfPq(s: SparkSession, dir: String): DataFrame =
    qIvfPqFrom(Tables.embeddings(s, dir))

  private[graft] def qIvfPqFrom(vectors: DataFrame): DataFrame =
    explodeRanks(ivfPqTop(vectors, 5))

  /** The IVF-pruned ADC scan aggregated to top-`k` per query — ONE
    * body for the composed top-5 face ([[qIvfPq]], k=5) and the
    * complete serve path's shortlist ([[qIvfPqRefine]],
    * k=[[PqRefineR]]). */
  private def ivfPqTop(vectors: DataFrame, k: Int): DataFrame =
    ivfPqTopOver(pqSharedNorm(vectors), k)

  /** [[ivfPqTop]] over an already-materialized normalized frame — the
    * [[pqAdcTopOver]] seam for the composed serve path, so
    * [[qIvfPqRefine]]'s re-rank reads the same stored blocks as its
    * shortlist scan. */
  private def ivfPqTopOver(e: DataFrame, k: Int): DataFrame = {
    // ONE seed-sample collect serves BOTH trainers: trainQuantizer and
    // pqSample would otherwise each run a byte-identical corpus-wide
    // top-|sample| sort-limit job selecting the same rows — at 100 TB, a
    // duplicated full scan per query. Same rows, same per-element
    // arithmetic as the two single-tier paths (float widens to double;
    // the quantizer's copy unit-normalizes), so the trained models are
    // bit-identical to theirs.
    val raw = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(IvfSeedSample)
      .select("embedding", "nrm").collect()
      .map(r => (r.getSeq[Float](0), r.getDouble(1)))
    val cents = trainQuantizerOnSample(raw.map { case (v, n) => v.map(_ / n).toArray })
    val cb = trainPqOnSample(raw.map { case (v, _) => v.map(_.toDouble).toArray })
    // one scan: coarse list assignment + PQ encoding side by side
    val corpus = e.select(col("vec_id").as("n_id"),
        ivfListId(cents)(col("embedding"), col("nrm")).as("bucket"),
        pqCodeCols(cb)(col("embedding")).as("codes"))
      .withColumn("recon_nrm", pqReconNorm(cb)(col("codes")))
    val queries = e.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("q_id"), col("nrm").as("q_nrm"),
        pqLut(cb)(col("embedding")).as("lut"),
        ivfProbeLists(cents)(col("embedding"), col("nrm")).as("bucket"))
    // a corpus vector lives in exactly one list, so a (query, neighbor)
    // pair can match at most one probed bucket — no dedup needed
    corpus.join(broadcast(queries), "bucket")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine",
        round(pqAdc(col("lut"), col("codes")) / (col("q_nrm") * col("recon_nrm")), 6))
      .groupBy("q_id")
      .agg(topkCol(col("cosine"), col("n_id"), k).as("top"))
  }

  /** The COMPLETE production serve path (r18, completing the triple):
    * IVF list-prune → PQ ADC shortlist of [[PqRefineR]] ([[ivfPqTop]] —
    * the composed face's own probe scan, deeper top-k) → EXACT cosine
    * re-rank of just the shortlist to top-5 ([[exactRerank]]).
    * [[qIvfPq]] composes the two pruning tiers; this adds the
    * refinement stage a deployment actually serves with — the
    * probed-lists scan never touches full-precision vectors (16-byte
    * codes only), and the exact reads are |queries|×R id-fetches.
    * Recall invariant (SimilaritySpec): refined recall@5 ≥ [[qIvfPq]]'s
    * per construction — every true-top-5 member the ADC put in its
    * top-5 is also in the top-R shortlist, where the exact re-rank can
    * only rank it HIGHER (at most 4 vectors beat it globally, so at
    * most 4 in the shortlist), and members the ADC mis-ranked 6..R are
    * RECOVERED. */
  def qIvfPqRefine(s: SparkSession, dir: String): DataFrame = {
    // one shared corpus materialization across shortlist scan + re-rank
    // (qPqRefine's argument; 8 scans in the committed before-plan)
    val e = pqSharedNorm(Tables.embeddings(s, dir))
    exactRerank(e, shortlistIds(ivfPqTopOver(e, PqRefineR)))
  }

  // ---- int8 embedding quantization (storage path for 100 TB ANN) --------
  /** Symmetric per-vector int8 quantization: scale = max|v|/127, each
    * component stored as round(v/scale) — 4× smaller than float32, the
    * standard memory/storage trade for large ANN corpora. The query emits
    * the quantization quality per vector (cosine between the original and
    * the dequantized vector) so the trade is MEASURED, not asserted:
    * SimilaritySpec bounds it ≥ 0.999, and the DuckDB oracle replays the
    * arithmetic exactly. Rounding is the explicit `floor(x + 0.5)` form —
    * engine-native round() functions disagree on half-way ties (half-up
    * vs half-even), and a differential gate cannot tolerate that.
    */
  def qEmbedQuant(s: SparkSession, dir: String): DataFrame = {
    val emb = col("embedding")
    val absMax = aggregate(emb, lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double"))))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), emb, greatest(absMax / 127.0, lit(1e-30)).as("scale"))
    val dq = transform(emb, x => floor(x.cast("double") / col("scale") + 0.5) * col("scale"))
    val dot = aggregate(zip_with(emb, dq, (a, b) => a.cast("double") * b),
      lit(0.0), (acc, v) => acc + v)
    val n1 = sqrt(aggregate(emb, lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))
    val n2 = sqrt(aggregate(dq, lit(0.0), (a, x) => a + x * x))
    // Two-step select: emitting `round(scale, 6) AS scale` in the same
    // projection as the lambdas would make Spark's lateral-column-alias
    // resolution bind the lambdas' col("scale") to the ROUNDED alias —
    // quantizing with a truncated scale (the differential gate caught
    // exactly this). Compute with the true scale first, round after.
    e.select(col("vec_id"), col("scale"),
        round(dot / (n1 * n2), 6).as("cos_dequant"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"), col("cos_dequant"))
      .orderBy("vec_id")
  }

  // ---- embedding-corpus curation capstone -------------------------------
  /** The embedding-side composition: banded near-dup pairs → connected
    * components (the same star-contraction stage the text pipeline uses)
    * → survivorship → per-class statistics. Proves the CC stage composes
    * with the embedding path, not just the n-gram path; verified against
    * a DuckDB recursive-CTE closure over the shared near-dup fragment.
    * Since near-dup candidates never cross the class label, clusters are
    * label-pure and the per-label aggregate is exact. */
  def qEmbedPipeline(s: SparkSession, dir: String): DataFrame = {
    val pairs = qEmbedNeardup(s, dir)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = Dedup.clusterPairs(pairs, ckpt = Checkpointer.fromConf(s))
      .select(col("node").as("vec_id"), col("label").as("cluster_id"))
    Tables.embeddings(s, dir).select("vec_id", "label")
      .join(clusters, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        count(col("cluster_id")).as("n_clustered"),
        count(when(col("cluster_id").isNotNull &&
          col("vec_id") =!= col("cluster_id"), lit(1))).as("n_dropped"))
      .orderBy("label")
  }

  // ---- pre-partitioned ANN storage (the SURVEY §9 claim, made real) -----
  /** Write the embedding corpus as an on-disk inverted file: one
    * directory per LSH sign bucket (`bucket=<id>/part-*.parquet`). This
    * is the 100 TB layout for the ANN scale path: the bucket assignment
    * — the expensive projection over every vector — is paid ONCE at
    * write time, and every later probe reads only its probed buckets'
    * directories via partition pruning (PlanSpec asserts the pruning
    * filters actually reach the scan; the claim is mechanical, not
    * prose). */
  def writeAnnIndex(s: SparkSession, dir: String, path: String): Unit =
    writeAnnIndexFrom(s, Tables.embeddings(s, dir), path)

  /** [[writeAnnIndex]] over a caller-supplied vector frame (the
    * [[writeIvfIndexFrom]] shape) — the bootstrap face store-building
    * specs and the as-of scenario construct corpora with. Runs under
    * the store's writer claim via the
    * [[graft.sources.Stores.overwriteAside]] swap, which also retires
    * every prior sidecar (`_idbloom.bin`, `_tombstones`) with the
    * corpus it described — see [[graft.operators.Dedup.writeSignatures]]
    * for the stale-id-bloom hazard this closes. */
  def writeAnnIndexFrom(s: SparkSession, vectors: DataFrame, path: String): Unit =
    graft.sources.Stores.overwriteAside(s, path) { tmp =>
      // one task per bucket (writeSignatures' discipline): without the
      // repartition every shuffle partition emits a sliver file into every
      // bucket directory — buckets × partitions small files, the
      // object-store listing killer compaction exists to fix
      graft.sources.Sinks.overwritePartitioned(
        bucketed(vectors).withColumn("batch_id", lit(-1L))
          .repartition(col("bucket")),
        tmp, Seq("bucket", "batch_id"))
    }

  /** The index row shape: vector + norm + sign bucket under the index's
    * plane family (bucket stays the FIRST partition level, so probe
    * pruning is unaffected by the batch sub-partitioning). */
  private def bucketed(vectors: DataFrame): DataFrame =
    withNorm(vectors)
      .withColumn("bucket", lshBucket(col("embedding"), 0 until AnnPlanes))

  /** Incrementally grow the index: bucket-assign a batch of new vectors
    * under the SAME plane family the index was written with and land
    * them in the matching bucket directories — probes see the new
    * vectors immediately through the same partition pruning, no rebuild.
    * At 100 TB the index is written once and then only ever grown,
    * because re-bucketing the corpus for each arriving batch would
    * re-pay the full projection scan. Replay-idempotent for
    * at-least-once callers (foreachBatch, retried jobs): the batch's
    * rows land as a dynamic overwrite of their (bucket, batch_id)
    * partitions, so a replay rewrites its own partitions instead of
    * duplicating vectors — the contract
    * [[graft.operators.Dedup.appendSignaturesBatch]] carries for the
    * signature store. */
  def appendAnnIndexBatch(s: SparkSession, newVectors: DataFrame, path: String,
      batchId: Long): Unit =
      graft.sources.StoreLock.withLock(path, "append") {
    require(batchId >= 0, "scoped batch ids are non-negative (negatives are store-internal)")
    graft.sources.Stores.recover(s, path)
    graft.sources.IdBloom.absorb(s, path, newVectors.select("vec_id"))
    graft.sources.Sinks.overwritePartitionsDynamic(
      bucketed(newVectors).withColumn("batch_id", lit(batchId)),
      path, Seq("bucket", "batch_id"))
  }

  /** Compact the ANN index: fold the admission batches below the
    * caller's replay watermark `foldBelow` into the bootstrap layout
    * (batch_id = -1), dropping exact duplicate rows and purging
    * retracted vectors — the same small-files fix the signature store's
    * compaction provides. Partitions at or above the watermark are
    * preserved verbatim: they are what makes an [[appendAnnIndexBatch]]
    * replay a pure overwrite of its own still-existing partitions —
    * folding them would turn a post-compaction replay into an insert of
    * rows already absorbed.
    * Crash-safe via [[graft.sources.Stores.compactInPlace]]; run while
    * no writer is active. */
  def compactAnnIndex(s: SparkSession, path: String, foldBelow: Long = 0L): Unit =
      graft.sources.StoreLock.withLock(path, "compact") {
    graft.sources.Stores.recover(s, path)
    // Pristine fast path (compactSignatures' twin): an index whose only
    // batch partitions are the bootstrap `-1` was written deduped in one
    // shot, so the fold would rewrite it verbatim — skip off the
    // directory listing alone. recover() first, so a crashed-away live
    // dir restores instead of listing empty and skipping; residue from
    // an earlier crashed compaction still clears (a stale .bak beside
    // the live dir is pre-compaction content a later recover() would
    // wrongly restore).
    graft.sources.Stores.clearResidue(s, path)
    if (graft.sources.Stores.subPartitionDirs(s, path)
          .filter(_.startsWith("batch_id=")).subsetOf(Set("batch_id=-1"))
        && !graft.sources.Stores.hasTombstones(s, path)) return
    val scopedRemain = graft.sources.Stores.replayProtectedRemain(s, path, foldBelow)
    graft.sources.Stores.compactInPlace(s, path)( df0 => {
      val df = graft.sources.Stores.minusTombstones(s, path, "vec_id", df0)
      // full-row dedup over the FOLDED rows only, so only exact
      // copies collapse — a re-ingested vector with
      // changed embedding keeps both versions deterministically.
      // Batch-SCOPED partitions at/above the watermark pass through
      // untouched AND unpurged (the replay contract: an
      // appendAnnIndexBatch replay must stay a pure overwrite of its own
      // still-identical partitions — tombstones are retained below to
      // keep retracted rows hidden through replays).
      val folded = df.filter(col("batch_id") < foldBelow)
        .withColumn("batch_id", lit(-1L)).dropDuplicates()
      folded.unionByName(df0.filter(col("batch_id") >= foldBelow)
        .withColumn("batch_id", col("batch_id").cast("long")))
    })(
      (df, tmp) => {
        graft.sources.Sinks.overwritePartitioned(
          df.repartition(col("bucket")), tmp, Seq("bucket", "batch_id"))
        if (scopedRemain) graft.sources.Stores.carryTombstonesInto(s, path, tmp)
        // folding scoped batches bounds the as-of horizon (the vacuum
        // rule; see probeAnnIndexAsOf)
        graft.sources.Stores.writeHorizonInto(s, path, tmp, foldBelow)
      })
  }

  /** Multi-probe bucket set for a query bucket: exact + all Hamming-1. */
  def probeBuckets(qBucket: Long): Seq[Long] =
    qBucket +: (0 until AnnPlanes).map(p => qBucket ^ (1L << p))

  /** Probe-side scan of the partitioned index: the `isin` over the
    * partition column prunes to ≤ AnnPlanes+1 of 2^AnnPlanes directories
    * before any row is read. */
  def probeAnnIndex(s: SparkSession, path: String, buckets: Seq[Long]): DataFrame = {
    graft.sources.Stores.recover(s, path)
    graft.sources.Stores.minusTombstones(s, path, "vec_id",
      s.read.parquet(path).filter(col("bucket").isin(buckets: _*)))
  }

  /** [[probeAnnIndex]] AS OF admission batch `asOf` — the LSH index's
    * member of the data-plane time-travel family (see
    * [[probeIvfIndexAsOf]]; the plane family is code, not store state,
    * so — like the frozen IVF quantizer — no sidecar needs slicing). */
  def probeAnnIndexAsOf(s: SparkSession, path: String, buckets: Seq[Long],
      asOf: Long): DataFrame = {
    graft.sources.Stores.requireAsOfReconstructable(s, path, asOf)
    probeAnnIndex(s, path, buckets)
      .filter(col("batch_id").cast("long") <= asOf)
  }

  /** The stored LSH index answered AS OF a pre-append, post-retraction
    * state, under the FULL DuckDB oracle — the q_bm25_asof discipline
    * brought to the vector store, whose as-of face was previously only
    * spec-pinned: bootstrap without the %10 = 5 vectors, append them as
    * batch 7, retract every %7 = 3 vector, answer top-5 neighbors as of
    * batch 6. The oracle replays the in-query LSH over a corpus that is
    * exactly the as-of survivors — green only if the batch slice prunes
    * the late admissions everywhere (queries, probed buckets, AND
    * neighbors) and the tombstones erase retracted vectors from
    * history. Per-vector rows mean the anti-join + slice IS the exact
    * reconstruction — no global statistic needs membership scoping,
    * which is precisely why the posting/model stores needed `_docs` and
    * this store does not. */
  def qAnnAsof(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
    val late = pmod(col("vec_id"), lit(10L)) === 5
    val retr = pmod(col("vec_id"), lit(7L)) === 3
    val path = graft.sources.TmpStores.scopedPath("graft-annasof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeAnnIndexFrom(s, vecs.filter(!late), path)
      appendAnnIndexBatch(s, vecs.filter(late), path, 7L)
      retractVectors(s, path,
        vecs.filter(retr).select("vec_id").collect().map(_.getLong(0)).toSeq)
    }
    // the as-of index view drives the query slice and the probed-bucket
    // collect, so every stage sees one reconstruction
    val idxAsOf = graft.sources.Stores.minusTombstones(s, path, "vec_id",
        s.read.parquet(path))
      .filter(col("batch_id").cast("long") <= 6L)
    val probed = idxAsOf.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select("bucket").distinct().collect()
      .flatMap(r => probeBuckets(r.getAs[Number](0).longValue)).distinct.toSeq
    annTopkFromBuckets(
      probeAnnIndexAsOf(s, path, probed, asOf = 6L)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("nrm").as("n_nrm"), col("bucket")),
      probeQueries(idxAsOf))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_neardup" -> qEmbedNeardup _,
    "q_embed_quant"   -> qEmbedQuant _,
    "q_embed_pipeline" -> qEmbedPipeline _,
    "q_ann_topk"      -> qAnnTopk _,
    "q_ann_topk_agg"  -> qAnnTopkAgg _,
    "q_ann_recall"    -> qAnnRecall _,
    "q_ann_plan"      -> qAnnPlan _,
    "q_ivf_recall"    -> qIvfRecall _,
    "q_pq_recall"     -> qPqRecall _,
    "q_mmr_rerank"    -> qMmrRerank _,
    "q_ann_lsh"       -> qAnnLsh _,
    "q_ann_asof"      -> qAnnAsof _,
    "q_ivf_asof"      -> qIvfAsof _,
    "q_ann_probe"     -> qAnnProbe _,
    "q_ann_ivf"       -> qAnnIvf _,
    "q_ann_pq"        -> qAnnPq _,
    "q_pq_refine"     -> qPqRefine _,
    "q_ivf_pq"        -> qIvfPq _,
    "q_ivf_pq_refine" -> qIvfPqRefine _,
    "q_ivf_probe"     -> qIvfProbe _,
    "q_dedup_semantic" -> qDedupSemantic _,
    "q_kmeans"        -> qKmeans _,
    "q_cluster_sample" -> qClusterSample _,
  )

  // ---- DuckDB oracle generation -----------------------------------------
  private def duckPlaneArr(p: Int): String =
    (0 until Dim).map(d => planeComponent(p, d).toString).mkString("[", ", ", "]")

  private def duckDot(a: String, b: String): String =
    s"list_aggregate(list_transform(range(1, ${Dim + 1}), i -> cast($a[i] AS double) * $b), 'sum')"

  private def duckDotArr(emb: String, arr: String): String =
    duckDot(emb, s"($arr)[i]")

  private def duckBucket(emb: String, planes: Seq[Int]): String =
    planes.zipWithIndex.map { case (p, k) =>
      s"(CASE WHEN ${duckDotArr(emb, duckPlaneArr(p))} > 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val duckNorm =
    "sqrt(list_aggregate(list_transform(range(1, 65), i -> cast(embedding[i] AS double) * cast(embedding[i] AS double)), 'sum'))"

  /** q_ann_ivf / q_ivf_probe have no SQL oracle (the quantizer is
    * iterative float math with no SQL twin) — their oracle is the
    * differential expected parquet [[graft.verify.Expected.ivfRows]]
    * generates (full rows+schema+hash compare via read_parquet; recall
    * additionally asserted in SimilaritySpec). Everything else here is
    * oracle-checked — including
    * q_ann_lsh: approximate-by-design is NOT nondeterministic, its
    * candidate set is exactly defined by the sign buckets, and the plane
    * constants generate into the SQL, so DuckDB replays bucket
    * assignment, multi-probing and ranking identically. */
  /** Shared DuckDB CTE chain replaying the banded near-dup blocking with
    * the generated plane constants: `nd(label, id_a, id_b, cosine)` holds
    * the near-dup pairs. Used by the q_embed_neardup oracle and the
    * embedding-pipeline oracle so the two can never drift apart. */
  private def duckNeardupCtes: String = {
    val bkts = (0 until NdBands).map(b => s"    ${duckBucket("embedding", ndPlaneIds(b))} AS bkt$b")
      .mkString(",\n")
    val anyBand = (0 until NdBands).map(b => s"a.bkt$b = b.bkt$b").mkString(" OR ")
    val pairDot = s"list_aggregate(list_transform(range(1, ${Dim + 1}), i -> cast(ea.embedding[i] AS double) * cast(eb.embedding[i] AS double)), 'sum')"
    s"""e AS (
       |  SELECT vec_id, label, embedding,
       |    $duckNorm AS nrm,
       |$bkts
       |  FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |    AND ($anyBand)),
       |nd AS (
       |  SELECT c.label, c.id_a, c.id_b,
       |    round($pairDot / (ea.nrm * eb.nrm), 6) AS cosine
       |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
       |  WHERE round($pairDot / (ea.nrm * eb.nrm), 6) >= 0.4)""".stripMargin
  }

  /** The multi-probe LSH oracle (plane constants generated into the
    * SQL), shared verbatim by q_ann_lsh and the stored-index
    * q_ann_probe; the predicate variant serves the as-of face (the
    * oracle retrains — here: re-buckets — on the filtered corpus). */
  private val duckAnnLshSql: String = duckAnnLshSqlWith("TRUE")

  private def duckAnnLshSqlWith(pred: String): String = {
    val masks = (Seq(0L) ++ (0 until AnnPlanes).map(p => 1L << p)).mkString("[", ", ", "]")
    val qDot = s"list_aggregate(list_transform(range(1, ${Dim + 1}), i -> cast(p.q_emb[i] AS double) * cast(e.embedding[i] AS double)), 'sum')"
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    $duckNorm AS nrm,
       |    ${duckBucket("embedding", 0 until AnnPlanes)} AS bucket
       |  FROM embeddings WHERE ($pred)),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
       |  FROM e WHERE vec_id % 100 = 0),
       |probes AS (
       |  SELECT q_id, q_emb, q_nrm, xor(q_bucket, m.mask) AS bucket
       |  FROM q, (SELECT unnest($masks) AS mask) m),
       |scored AS (
       |  SELECT p.q_id, e.vec_id AS neighbor_id,
       |    round($qDot / (p.q_nrm * e.nrm), 6) AS cosine
       |  FROM probes p JOIN e ON e.bucket = p.bucket AND e.vec_id <> p.q_id)
       |SELECT q_id, rank, neighbor_id, cosine FROM (
       |  SELECT q_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_embed_neardup" ->
      s"""WITH $duckNeardupCtes
         |SELECT label, id_a, id_b, cosine FROM nd ORDER BY 1, 2, 3""".stripMargin,
    "q_embed_pipeline" ->
      s"""WITH RECURSIVE $duckNeardupCtes,
         |${Dedup.duckReachCtes("nd", "id_a", "id_b")},
         |cl AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
         |SELECT emb.label, count(*) AS n_vectors,
         |  count(cl.node) AS n_clustered,
         |  count(CASE WHEN cl.node IS NOT NULL AND cl.node <> cl.cluster_id THEN 1 END) AS n_dropped
         |FROM embeddings emb LEFT JOIN cl ON emb.vec_id = cl.node
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_embed_quant" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding, x -> abs(cast(x AS double)))) / 127.0, 1e-30) AS scale
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, scale, embedding,
        |    list_transform(embedding, x -> floor(cast(x AS double) / scale + 0.5) * scale) AS dq
        |  FROM e)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(
        |    list_aggregate(list_transform(range(1, 65), i -> cast(embedding[i] AS double) * dq[i]), 'sum') /
        |    (sqrt(list_aggregate(list_transform(range(1, 65), i -> cast(embedding[i] AS double) * cast(embedding[i] AS double)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(dq, x -> x * x), 'sum'))), 6) AS cos_dequant
        |FROM d ORDER BY vec_id""".stripMargin,
    // the stored-index probe is DEFINED to return what the in-query LSH
    // returns — materializing the index must not change a neighbor — so
    // the two share one oracle
    "q_ann_probe" -> duckAnnLshSql,
    "q_ann_lsh" -> duckAnnLshSql,
    // as-of face: the oracle re-buckets and ranks over the as-of
    // surviving corpus only (see qAnnAsof)
    "q_ann_asof" -> duckAnnLshSqlWith("vec_id % 10 <> 5 AND vec_id % 7 <> 3"),
    // the aggregate face is output-identical to the window face by the
    // total-ordering contract, so both keys carry one SQL
    "q_ann_topk" -> duckAnnTopkSql,
    "q_ann_topk_agg" -> duckAnnTopkSql,
    "q_mmr_rerank" -> duckMmrSql,
    // recall = the two faces' own oracles joined on (query, neighbor);
    // nested WITHs shadow cleanly in DuckDB, and bigint/bigint `/`
    // promotes to double exactly as Spark's long/long division does
    "q_ann_recall" ->
      s"""WITH brute AS ($duckAnnTopkSql),
         |lsh AS ($duckAnnLshSql)
         |SELECT b.q_id,
         |  round(count(l.neighbor_id) / count(*), 6) AS recall_at_5
         |FROM brute b LEFT JOIN lsh l
         |  ON l.q_id = b.q_id AND l.neighbor_id = b.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
  )

  /** The MMR oracle: the greedy selection unrolled as
    * [[graft.operators.Graph]]-style CTE stages — stage k computes
    * every unselected candidate's λ·rel − μ·max-sim-to-selected and
    * picks the (score desc, id asc) argmax. Candidate relevance, the
    * pool cut, and candidate-candidate cosines replay the Spark math
    * verbatim (same rounding, same left-to-right sums), so the argmax
    * comparisons run on bit-identical doubles. */
  private lazy val duckMmrSql: String = {
    val base =
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_aggregate(list_transform(range(1, length(embedding) + 1),
        |      i -> cast(embedding[i] AS double) * cast(embedding[i] AS double)), 'sum')) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id % 100 = 0),
        |sc AS (
        |  SELECT q.q_id, e.vec_id AS n_id, e.embedding AS emb, e.nrm AS nrm,
        |    round(list_aggregate(list_transform(range(1, length(q.q_emb) + 1),
        |        i -> cast(q.q_emb[i] AS double) * cast(e.embedding[i] AS double)), 'sum')
        |      / (q.q_nrm * e.nrm), 6) AS rel
        |  FROM q, e WHERE e.vec_id <> q.q_id),
        |cand AS (SELECT * FROM (
        |    SELECT sc.*, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn
        |    FROM sc) t
        |  WHERE rn <= $MmrPool),
        |p AS (
        |  SELECT a.q_id, a.n_id AS x, b.n_id AS y,
        |    round(list_aggregate(list_transform(range(1, length(a.emb) + 1),
        |        i -> cast(a.emb[i] AS double) * cast(b.emb[i] AS double)), 'sum')
        |      / (a.nrm * b.nrm), 6) AS sim
        |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id),
        |s1 AS (SELECT q_id, n_id, rel, $MmrLambda * rel AS mmr, CAST(1 AS BIGINT) AS rk
        |       FROM cand WHERE rn = 1),
        |sel1 AS (SELECT q_id, n_id FROM s1)""".stripMargin
    val stages = (2 to MmrK).map { k =>
      s"""m$k AS (
         |  SELECT c.q_id, c.n_id, c.rel,
         |    $MmrLambda * c.rel - $MmrMu * max(p.sim) AS mmr
         |  FROM cand c
         |  JOIN p ON p.q_id = c.q_id AND p.x = c.n_id
         |  JOIN sel${k - 1} s ON s.q_id = p.q_id AND s.n_id = p.y
         |  LEFT JOIN sel${k - 1} me ON me.q_id = c.q_id AND me.n_id = c.n_id
         |  WHERE me.n_id IS NULL
         |  GROUP BY c.q_id, c.n_id, c.rel),
         |s$k AS (SELECT q_id, n_id, rel, mmr, CAST($k AS BIGINT) AS rk FROM (
         |    SELECT m$k.*, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, n_id) AS rn2
         |    FROM m$k) t
         |  WHERE rn2 = 1),
         |sel$k AS (SELECT q_id, n_id FROM sel${k - 1} UNION ALL SELECT q_id, n_id FROM s$k)""".stripMargin
    }.mkString(",\n")
    val all = (1 to MmrK).map(k =>
      s"SELECT q_id, rk, n_id, rel, mmr FROM s$k").mkString("\nUNION ALL\n")
    s"""$base,
       |$stages
       |SELECT q_id, rk AS rank, n_id AS neighbor_id, rel AS relevance, mmr
       |FROM ($all)
       |ORDER BY q_id, rank""".stripMargin
  }

  private lazy val duckAnnTopkSql: String =
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_aggregate(list_transform(range(1, length(embedding) + 1),
        |      i -> cast(embedding[i] AS double) * cast(embedding[i] AS double)), 'sum')) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS neighbor_id,
        |    round(list_aggregate(list_transform(range(1, length(q.q_emb) + 1),
        |        i -> cast(q.q_emb[i] AS double) * cast(e.embedding[i] AS double)), 'sum')
        |      / (q.q_nrm * e.nrm), 6) AS cosine
        |  FROM q, e WHERE e.vec_id <> q.q_id)
        |SELECT q_id, rank, neighbor_id, cosine FROM (
        |  SELECT q_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
}
