package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

/** LSH-bucketed ANN validated against the brute-force cosine baseline
  * (q_ann_topk, itself verified by the DuckDB differential gate).
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private case class Hit(qId: Long, rank: Long, nId: Long, cos: Double)

  private def collect(df: org.apache.spark.sql.DataFrame): Seq[Hit] =
    df.collect().map(r => Hit(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  private lazy val exact = collect(Similarity.qAnnTopk(spark, dir))
  private lazy val approx = collect(Similarity.qAnnLsh(spark, dir))

  test("incrementally appended ANN index equals the single-shot build") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-annapp").toString
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val cut = 250L
    // grown: bootstrap from the first half, append the second half —
    // the incremental flow a production corpus actually follows
    val grown = s"$tmp/grown"
    Similarity.writeAnnIndexFrom(spark, emb.filter(col("vec_id") < cut), grown)
    Similarity.appendAnnIndexBatch(spark, emb.filter(col("vec_id") >= cut), grown, 1L)
    // full: the single-shot build over the same corpus
    val full = s"$tmp/full"
    Similarity.writeAnnIndex(spark, dir, full)
    def content(path: String): Set[(Long, Long)] =
      spark.read.parquet(path).select("vec_id", "bucket").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("bucket").longValue)).toSet
    val (g, f) = (content(grown), content(full))
    assert(g === f, "append must assign the same buckets the full build does")
    // probes see appended vectors through the same pruning, no rebuild
    val (vid, bkt) = g.find(_._1 >= cut).get
    val hits = Similarity.probeAnnIndex(spark, grown, Similarity.probeBuckets(bkt))
      .filter(col("vec_id") === vid).count()
    assert(hits === 1L)
    // batch-scoped growth is replay-idempotent: same batch, same id,
    // twice — no duplicated vectors
    val replayed = s"$tmp/replayed"
    Similarity.appendAnnIndexBatch(spark, emb.filter(col("vec_id") < cut), replayed, 1L)
    Similarity.appendAnnIndexBatch(spark, emb.filter(col("vec_id") >= cut), replayed, 2L)
    Similarity.appendAnnIndexBatch(spark, emb.filter(col("vec_id") >= cut), replayed, 2L)
    assert(content(replayed) === f, "a replayed batch must not duplicate index rows")
    assert(spark.read.parquet(replayed).groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L)
    // compaction preserves SCOPED batch partitions, so a replay that
    // straddles a maintenance compaction stays a pure overwrite
    Similarity.compactAnnIndex(spark, replayed)
    Similarity.appendAnnIndexBatch(spark, emb.filter(col("vec_id") >= cut), replayed, 2L)
    assert(content(replayed) === f, "post-compaction replay must not duplicate rows")
    assert(spark.read.parquet(replayed).groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L)
  }

  test("brute force returns exactly 5 ranked neighbors per query") {
    val byQ = exact.groupBy(_.qId)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, hits) =>
      assert(hits.map(_.rank).sorted == Seq(1L, 2L, 3L, 4L, 5L), s"query $q ranks")
      // descending cosine with deterministic tiebreak
      assert(hits.sortBy(_.rank).map(_.cos).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("LSH cosines agree exactly with brute force for shared pairs") {
    val exactCos = exact.map(h => (h.qId, h.nId) -> h.cos).toMap
    approx.foreach { h =>
      exactCos.get((h.qId, h.nId)).foreach(c => assert(c == h.cos, s"pair ${(h.qId, h.nId)}"))
    }
  }

  test("LSH self-consistency: ranks are 1..n per query, cosine-descending") {
    approx.groupBy(_.qId).foreach { case (q, hits) =>
      val sorted = hits.sortBy(_.rank)
      assert(sorted.map(_.rank) == (1L to hits.size).toSeq, s"query $q ranks")
      assert(sorted.map(_.cos).sliding(2).forall(p => p.size < 2 || p.head >= p.last))
    }
  }

  test("Lloyd-refined IVF (5 of 16 lists probed) achieves recall >= 0.7 vs brute force") {
    val ivf = collect(Similarity.qAnnIvf(spark, dir))
    val exactSet = exact.map(h => (h.qId, h.nId)).toSet
    val recall = ivf.count(h => exactSet((h.qId, h.nId))).toDouble / exactSet.size
    assert(recall >= 0.7, f"recall $recall%.3f")
    // cosines agree exactly with brute force for shared pairs
    val exactCos = exact.map(h => (h.qId, h.nId) -> h.cos).toMap
    ivf.foreach(h => exactCos.get((h.qId, h.nId)).foreach(c => assert(c == h.cos)))
  }

  test("PQ ADC ranking recovers most of the brute-force top-5") {
    val pq = collect(Similarity.qAnnPq(spark, dir))
    assert(pq.nonEmpty)
    val exactSet = exact.map(h => (h.qId, h.nId)).toSet
    val recall = pq.count(h => exactSet((h.qId, h.nId))).toDouble / exactSet.size
    // 32×16 codebook over the near-uniform synthetic corpus: the ADC
    // estimate is lossy by design (16 bytes per vector), and the corpus'
    // top-5 margins are razor-thin, so the bound sits under the measured
    // 0.600 — clustered production embeddings quantize far tighter at
    // the same code budget (an 8×16 codebook here measured 0.16, which
    // is why the demo runs narrow subspaces).
    assert(recall >= 0.5, f"PQ recall $recall%.3f")
    // every query still gets a full top-5 and ranks stay 1..5 dense
    pq.groupBy(_.qId).foreach { case (q, hits) =>
      assert(hits.map(_.rank).sorted == Seq(1L, 2L, 3L, 4L, 5L), s"query $q")
    }
  }

  test("PQ refinement: exact re-rank of the ADC shortlist beats raw PQ and the IVF tier on recall") {
    // r17 verdict item 6's done-criterion: refine recall@5 >= the IVF
    // tier's at bounded extra reads (|queries| x PqRefineR id-fetches).
    // The shortlist is 10x k, so almost every true top-5 member survives
    // stage 1 and the exact re-rank restores its rank — the tunable-to-
    // a-recall-target property the refinement stage exists for.
    val refined = collect(Similarity.qPqRefine(spark, dir))
    assert(refined.nonEmpty)
    val exactSet = exact.map(h => (h.qId, h.nId)).toSet
    def recallOf(hits: Seq[Hit]) = hits.count(h => exactSet((h.qId, h.nId))).toDouble / exactSet.size
    val rRef = recallOf(refined)
    val rPq = recallOf(collect(Similarity.qAnnPq(spark, dir)))
    val rIvf = recallOf(collect(Similarity.qAnnIvf(spark, dir)))
    assert(rRef >= rPq, f"refined $rRef%.3f must not lose to raw PQ $rPq%.3f")
    assert(rRef >= rIvf, f"refined $rRef%.3f must reach the IVF tier $rIvf%.3f")
    assert(rRef >= 0.9, f"a 10x-k shortlist should recover nearly all of top-5, got $rRef%.3f")
    // re-ranked cosines are EXACT: every reported pair matches brute force
    val exactCos = exact.map(h => (h.qId, h.nId) -> h.cos).toMap
    refined.foreach(h => exactCos.get((h.qId, h.nId)).foreach(c => assert(c == h.cos)))
    refined.groupBy(_.qId).foreach { case (q, hits) =>
      assert(hits.map(_.rank).sorted == Seq(1L, 2L, 3L, 4L, 5L), s"query $q")
    }
  }

  test("IVF-PQ-refine: the complete serve path dominates IVF-PQ on recall, with exact reported cosines") {
    // the per-construction invariant: every true-top-5 member the ADC
    // put in its top-5 is also in the top-R shortlist (R=50 > 5), where
    // the exact re-rank can only move it UP — so refined recall >= the
    // unrefined composition's, query for query, hence in aggregate
    val refined = collect(Similarity.qIvfPqRefine(spark, dir))
    val plain = collect(Similarity.qIvfPq(spark, dir))
    assert(refined.nonEmpty)
    val exactSet = exact.map(h => (h.qId, h.nId)).toSet
    def recallOf(hits: Seq[Hit]) = hits.count(h => exactSet((h.qId, h.nId))).toDouble / exactSet.size
    val (rRef, rPlain) = (recallOf(refined), recallOf(plain))
    assert(rRef >= rPlain, f"refined $rRef%.3f must dominate unrefined $rPlain%.3f")
    // reported cosines are EXACT (the refine stage's whole point):
    // every pair shared with brute force matches to the rounded digit
    val exactCos = exact.map(h => (h.qId, h.nId) -> h.cos).toMap
    refined.foreach(h => exactCos.get((h.qId, h.nId)).foreach(c => assert(c == h.cos)))
    refined.groupBy(_.qId).foreach { case (q, hits) =>
      assert(hits.map(_.rank).sorted == Seq(1L, 2L, 3L, 4L, 5L), s"query $q")
    }
  }

  test("IVF-PQ composition: pruning+quantization still recovers a usable top-5") {
    val got = collect(Similarity.qIvfPq(spark, dir))
    assert(got.nonEmpty)
    val exactSet = exact.map(h => (h.qId, h.nId)).toSet
    val recall = got.count(h => exactSet((h.qId, h.nId))).toDouble / exactSet.size
    // compounds the two approximations (IVF 0.70 × PQ ranking noise);
    // bound under the measured 0.480, asserted so a regression in either
    // stage of the composition shows up here as well as in the twin
    assert(recall >= 0.35, f"IVF-PQ recall $recall%.3f")
    // the IVF prune is real: every reported neighbor also appears in the
    // pure-PQ candidate ordering only if its list was probed, so the
    // composed result can never exceed the probe fraction's candidates —
    // structurally, ranks stay dense 1..5
    got.groupBy(_.qId).foreach { case (q, hits) =>
      assert(hits.map(_.rank).sorted == Seq(1L, 2L, 3L, 4L, 5L), s"query $q")
    }
  }

  test("aggregate top-k equals the window top-k verbatim; fallback equals native") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the whole point of TopKByScore: same rows, ranks, and cosines as
    // the window formulation, from a bounded partial aggregate
    val agg = collect(Similarity.qAnnTopkAgg(spark, dir))
    assert(agg.nonEmpty)
    assert(agg === exact, "aggregate and window top-k must be bit-identical")
    // the collect+sort reference form implements the same total order,
    // including ties (duplicate scores), the id tie-break, and the
    // null contract (a null score never ranks on either face)
    val rows = Seq(
      (1L, Some(0.5), 10L), (1L, Some(0.5), 3L), (1L, Some(0.9), 7L),
      (1L, Some(0.1), 1L), (1L, Some(0.5), 2L), (1L, None, 99L),
      (1L, Some(Double.NaN), 8L),
      (2L, Some(0.0), 5L), (2L, Some(-0.0), 4L)).toDF("g", "score", "id")
    def top(c: org.apache.spark.sql.Column): Seq[(Long, Seq[(Long, Double)])] =
      rows.groupBy("g").agg(c.as("top")).orderBy("g").collect().map { r =>
        (r.getLong(0), r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getDouble(1))))
      }.toSeq
    val native = top(Similarity.topkCol(col("score"), col("id"), 3))
    // the collect+sort reference form of the native heap
    val fallback = top(
      transform(
        slice(array_sort(collect_list(
          when(col("score").isNotNull && col("id").isNotNull,
            struct((!isnan(col("score"))).cast("int").as("nn"),
              (-col("score")).as("ns"), col("id").as("i"))))), 1, 3),
        x => struct(x.getField("i").as("neighbor_id"), (-x.getField("ns")).as("cosine"))))
    def keyOf(v: Seq[(Long, Seq[(Long, Double)])]) =
      v.map { case (g, xs) => (g, xs.map { case (i, d) =>
        (i, java.lang.Double.doubleToLongBits(d)) }) } // NaN-safe equality
    assert(keyOf(native) === keyOf(fallback),
      "native heap and collect+sort fallback must agree")
    // spot-pin the order itself: NaN ranks FIRST (Spark sort order),
    // then score desc, then id asc on the 0.5 tie
    assert(native.head._2.map(_._1) === Seq(8L, 7L, 2L))
    assert(native.head._2.head._2.isNaN)
    // SQL comparison semantics: -0.0 TIES 0.0 (Spark normalizes zeros
    // in comparison keys), so the id tie-break decides — not the sign
    assert(native(1)._2.map(_._1) === Seq(4L, 5L))
    // the null-scored candidate never ranks, even with a slot free
    assert(!native.head._2.exists(_._1 == 99L) && !fallback.head._2.exists(_._1 == 99L))
  }

  test("native graft_dot equals the interpreted HOF fallback bit-for-bit") {
    // Both forms must fold sequentially in double — the property that
    // makes float results comparable against the builtin tree form and
    // the DuckDB oracle.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(50)((
      Seq.fill(64)((rnd.nextDouble() - 0.5).toFloat),
      Seq.fill(64)((rnd.nextDouble() - 0.5).toFloat)))
    val df = rows.toDF("a", "b")
    val diffs = df.select(call_function("graft_dot", col("a"), col("b")).as("native"),
        TreeForms.interpretedDot(col("a"), col("b")).as("interp"))
      .filter(col("native") =!= col("interp")).count()
    assert(diffs === 0, "native and interpreted dot products must be identical")
  }

  test("native PQ encode/LUT kernels equal the builtin-tree forms bit-for-bit") {
    // The native kernels exist for plan size (one node vs ~512 literal
    // subtrees), NOT for different arithmetic: codes (argmax, ties to
    // the larger code) and every LUT entry must match the tree form
    // exactly, or the differential twin's hashes would drift with the
    // session's extension state.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // real corpus rows + adversarial values: ±0.0, denormals, huge and
    // tiny magnitudes, sign flips — anywhere the kernel's loop could
    // round or order differently from the codegen'd builtin tree
    val rnd = new scala.util.Random(7)
    val adversarial = Seq(
      Array.fill(64)(0.0f), Array.fill(64)(-0.0f),
      Array.tabulate(64)(i => if (i % 2 == 0) 1e30f else -1e30f),
      Array.fill(64)(Float.MinPositiveValue),
      Array.tabulate(64)(i => ((i % 7) - 3) * 1e-20f),
      Array.fill(64)((rnd.nextFloat() - 0.5f) * 2000f))
      .map(Tuple1(_)).toDF("embedding")
    val e = Tables.embeddings(spark, dir).limit(200).select("embedding")
      .unionByName(adversarial)
    val cb = Similarity.trainPqOnSample(Similarity.pqSample(Tables.embeddings(spark, dir)))
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val diffs = e.select(
        call_function("graft_pq_encode", col("embedding"), cbLit).as("nc"),
        TreeForms.pqCodeColsTree(cb)(col("embedding")).as("tc"),
        call_function("graft_pq_lut", col("embedding"), cbLit).as("nl"),
        TreeForms.pqLutTree(cb)(col("embedding")).as("tl"))
      .filter(col("nc") =!= col("tc") || col("nl") =!= col("tl")).count()
    assert(diffs === 0, "native and tree-form PQ kernels must be identical")
  }

  test("native PQ ADC kernel equals the element_at tree form bit-for-bit") {
    // The ADC sum is the inner loop of every PQ serve scan (one
    // evaluation per corpus×query pair under the cross/bucket join) —
    // the kernel exists for per-pair cost, NOT different arithmetic:
    // the same 16 doubles must add in the same subspace order, so every
    // score (and therefore every rounded cosine and top-k set) is
    // bit-identical to the tree form's.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, dir)
    val cb = Similarity.trainPqOnSample(Similarity.pqSample(e))
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    // real corpus LUT/code pairs, CROSSED (the serve scan's shape):
    // query LUTs meet codes of OTHER rows, not just their own
    val luts = e.limit(20).select(
      call_function("graft_pq_lut", col("embedding"), cbLit).as("lut"))
    val codes = e.limit(50).select(
      call_function("graft_pq_encode", col("embedding"), cbLit).as("codes"))
    val diffs = luts.crossJoin(codes)
      .select(call_function("graft_pq_adc", col("lut"), col("codes")).as("native"),
        TreeForms.pqAdcTree(col("lut"), col("codes")).as("tree"))
      .filter(col("native") =!= col("tree")).count()
    assert(diffs === 0, "native and tree-form ADC sums must be identical")
  }

  test("PQ encode treats a NaN-scored subspace identically in both forms") {
    // a NaN embedding component makes every code's score NaN in that
    // subspace; Spark's array_max orders NaN above everything with the
    // larger code winning ties — the kernel's cmpSql must reproduce
    // that, not java.lang.Double semantics
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cb = Similarity.trainPqOnSample(Similarity.pqSample(Tables.embeddings(spark, dir)))
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val bad = Seq(
      Tuple1(Array.tabulate(64)(i => if (i == 3) Float.NaN else 0.5f)),
      Tuple1(Array.tabulate(64)(i => if (i == 63) Float.NegativeInfinity else -0.25f)))
      .toDF("embedding")
    val rows = bad.select(
        call_function("graft_pq_encode", col("embedding"), cbLit).as("nc"),
        TreeForms.pqCodeColsTree(cb)(col("embedding")).as("tc"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1),
        "kernel and tree must encode NaN/Inf subspaces to the same codes")
    }
  }

  test("native IVF scores kernel equals the builtin-tree form bit-for-bit") {
    // array_max / array_sort consume the scores downstream with
    // lexicographic struct semantics either way; the kernel only builds
    // the array, so every (score, list_id) entry must match exactly.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // magnitude extremes and denormals ride the main ANSI comparison;
    // the zero-norm vector (zero DIVISOR) is exercised separately below
    // because under ANSI both forms must THROW, not differ
    val adversarial = Seq(
      Array.tabulate(64)(i => if (i % 2 == 0) 1e30f else -1e30f),
      Array.fill(64)(Float.MinPositiveValue))
      .map(Tuple1(_)).toDF("embedding")
    val base = Tables.embeddings(spark, dir)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val cents = Similarity.trainQuantizerOnSample(
      base.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(64)
        .select("embedding", "nrm").collect()
        .map(r => { val n = r.getDouble(1); r.getSeq[Float](0).map(_ / n).toArray }))
    val withN = base.select("embedding").limit(200).unionByName(adversarial)
      .withColumn("nrm",
        sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val packed = typedlit(cents.map { case (i, c, cn) => (i, c.toSeq, cn) }.toSeq)
    val diffs = withN.select(
        call_function("graft_ivf_scores", col("embedding"), col("nrm"), packed).as("n"),
        TreeForms.ivfScoresTree(cents)(col("embedding"), col("nrm")).as("t"))
      .filter(col("n") =!= col("t")).count()
    assert(diffs === 0, "native and tree-form IVF scores must be identical")
    // zero-norm vector: builtin-Divide parity. ANSI → BOTH forms throw
    // DIVIDE_BY_ZERO; non-ANSI → BOTH yield null-scored structs.
    val zero = Seq(Tuple1(Array.fill(64)(0.0f))).toDF("embedding")
      .withColumn("nrm", lit(0.0))
    Seq(
      zero.select(call_function("graft_ivf_scores", col("embedding"), col("nrm"), packed)),
      zero.select(TreeForms.ivfScoresTree(cents)(col("embedding"), col("nrm")))
    ).foreach { df =>
      val e = intercept[Throwable](df.collect())
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5).toSeq
      assert(chain
        .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")),
        s"ANSI zero-divisor must fail fast on both forms, got: $e")
      // not just the message TEXT: the kernel must raise the genuine
      // SparkThrowable (error class + SQLSTATE) builtin Divide throws,
      // so harnesses matching on the error class see identical behavior
      assert(chain.exists(t => t.isInstanceOf[org.apache.spark.SparkThrowable] &&
        t.asInstanceOf[org.apache.spark.SparkThrowable].getCondition == "DIVIDE_BY_ZERO"),
        s"zero-divisor error must be a SparkThrowable with class DIVIDE_BY_ZERO, got: $e")
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.ansi.enabled", "false")
    val zero2 = { import s2.implicits._
      Seq(Tuple1(Array.fill(64)(0.0f))).toDF("embedding").withColumn("nrm", lit(0.0)) }
    val pair = zero2.select(
        call_function("graft_ivf_scores", col("embedding"), col("nrm"), packed).as("n"),
        TreeForms.ivfScoresTree(cents)(col("embedding"), col("nrm")).as("t"))
      .collect().head
    assert(pair.getSeq[org.apache.spark.sql.Row](0) === pair.getSeq[org.apache.spark.sql.Row](1),
      "non-ANSI zero-divisor must yield identical null-scored structs on both forms")
    assert(pair.getSeq[org.apache.spark.sql.Row](0).forall(_.isNullAt(0)),
      "non-ANSI zero-divisor scores must be NULL (builtin Divide), not NaN")
  }

  test("int8 quantization keeps per-vector cosine >= 0.999") {
    val rows = Similarity.qEmbedQuant(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, cos) =>
      assert(scale > 0, s"vec $id scale $scale")
      assert(cos >= 0.999, s"vec $id dequantized cosine $cos")
    }
  }

  test("stored IVF probe equals the in-query IVF verbatim, recall >= 0.7") {
    // materializing the index must not change a single neighbor — the
    // claim q_ann_probe proves for the LSH tier, here for the IVF tier:
    // centroids from the sidecar + driver-side probe assignment +
    // probe-pruned corpus read ≡ train-and-assign in one query
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val stored = bits(Similarity.qIvfProbe(spark, dir))
    val inQuery = bits(Similarity.qAnnIvf(spark, dir))
    assert(stored.nonEmpty)
    assert(stored === inQuery, "the stored probe must return the in-query IVF rows verbatim")
    val exactSet = exact.map(h => (h.qId, h.nId)).toSet
    val recall = stored.count(h => exactSet((h._1, h._3))).toDouble / exactSet.size
    assert(recall >= 0.7, f"stored-probe recall $recall%.3f")
  }

  test("a zero-norm (NaN-scored) query ranks identically stored vs in-query") {
    // NaN cosines exercise the total-double-ordering twin in qIvfProbe's
    // driver-side probe assignment: java.lang.Double.compare semantics
    // (NaN greatest) on both sides, or the stored probe would drift.
    // Under the default ANSI mode a zero-norm vector fails FAST on both
    // faces (double division by zero throws) — asserted first; the NaN
    // ordering path is then exercised with ANSI off in an isolated
    // session, where 0/0 follows IEEE and every cosine involving the
    // degenerate vector is NaN.
    val rnd = new scala.util.Random(3)
    // 303 vectors: three REAL queries (100, 200, 300) plus the zero
    // vector as a fourth query (400) — the real queries exercise the
    // NaN-score branch (NaN centroid components from the degenerate
    // sample vector), the zero query the NULL-score branch
    val rows = (1L to 303L).filter(_ % 100 != 0)
      .map(i => (i, Seq.fill(64)(rnd.nextFloat() - 0.5f))) ++
      Seq(100L, 200L, 300L).map(i => (i, Seq.fill(64)(rnd.nextFloat() - 0.5f))) :+
      (400L, Seq.fill(64)(0f)) // vec_id % 100 == 0 → a query, with nrm = 0
    val path = java.nio.file.Files.createTempDirectory("graft-ivfnan").toString + "/idx"
    val ansiErr = intercept[Throwable] {
      val ansiVecs = { import spark.implicits._; rows.toDF("vec_id", "embedding") }
      Similarity.qAnnIvfFrom(ansiVecs).collect()
    }
    assert(Iterator.iterate(ansiErr)(_.getCause).takeWhile(_ != null).take(5)
      .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")),
      s"ANSI mode must fail fast on a zero-norm vector, got: $ansiErr")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.ansi.enabled", "false")
    val vecs = { import s2.implicits._; rows.toDF("vec_id", "embedding") }
    Similarity.writeIvfIndexFrom(s2, vecs, path)
    // non-ANSI division yields NULL (not NaN) cosines for the zero-norm
    // query — compare null-safely, doubles by bits
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Option[Long])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(3))))).toSeq
    val stored = bits(Similarity.qIvfProbeStored(s2, path))
    val inQuery = bits(Similarity.qAnnIvfFrom(vecs))
    Seq(100L, 200L, 300L).foreach { q =>
      assert(stored.count(_._1 == q) === 5, s"real query $q must rank 5 neighbors")
    }
    // the zero-norm query's cosines are all NULL (non-ANSI division),
    // and null scores never rank (topkCol's contract on both faces):
    // the query must rank NOTHING — an explicit emptiness assertion,
    // because `forall` over rows that never exist proves nothing
    assert(stored.count(_._1 == 400L) === 0,
      "a zero-norm query (all-NULL cosines) must rank no neighbors")
    assert(inQuery.count(_._1 == 400L) === 0)
    assert(stored === inQuery)
  }

  test("IVF bootstrap (overwriteAside): every planted crash state recovers complete") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-ivfcrash").toString
    val path = s"$base/idx"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(suffix: String) = new org.apache.hadoop.fs.Path(path + suffix)
    // "complete" = corpus lists readable AND the _centroids sidecar loads
    // with all IvfLists rows — the invariant a sidecar-less live dir breaks
    def assertComplete(): Set[(Long, Int)] = {
      assert(Similarity.readCentroids(spark, path).length === Similarity.IvfLists)
      spark.read.parquet(path).select("vec_id", "list_id").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).intValue)).toSet
    }
    Similarity.writeIvfIndex(spark, dir, path)
    val bootstrap = assertComplete()
    assert(bootstrap.nonEmpty)

    // crash DURING the aside write: the write fn dies after partial
    // output → live store untouched, partial temp owned by the next write
    val boom = intercept[RuntimeException] {
      graft.sources.Stores.overwriteAside(spark, path) { tmp =>
        fs.mkdirs(new org.apache.hadoop.fs.Path(tmp + "/list_id=0"))
        throw new RuntimeException("planted crash mid-write")
      }
    }
    assert(boom.getMessage.contains("planted"))
    assert(assertComplete() === bootstrap, "a mid-write crash must not touch the live store")

    // crash AFTER the aside write, BEFORE the swap: full .compact beside
    // the intact live dir → reads serve the live store; the next
    // bootstrap owns (clears) the stale temp and completes
    val other = s"$base/other"
    Similarity.writeIvfIndexFrom(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") < 100), other)
    assert(fs.rename(new org.apache.hadoop.fs.Path(other), p(".compact")))
    assert(assertComplete() === bootstrap, "a stale .compact must not leak into reads")
    Similarity.writeIvfIndex(spark, dir, path)
    val rebuilt = assertComplete()
    assert(rebuilt === bootstrap, "rebuild over stale residue must equal a clean bootstrap")
    assert(!fs.exists(p(".compact")) && !fs.exists(p(".bak")), "the swap must clear residue")

    // crash AFTER backup-move, BEFORE swap-in: live dir gone, content in
    // .bak → the next ACCESS restores it (recover-on-access), complete
    assert(fs.rename(new org.apache.hadoop.fs.Path(path), p(".bak")))
    assert(assertComplete() === bootstrap, "recover-on-access must restore the .bak")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path)) && !fs.exists(p(".bak")))

    // crash AFTER swap-in, BEFORE backup cleanup: stale .bak beside the
    // live store → reads fine now; compaction heals the residue (a later
    // live-dir loss must never "recover" pre-swap content)
    fs.mkdirs(p(".bak"))
    assert(assertComplete() === bootstrap)
    Similarity.compactIvfIndex(spark, path)
    assert(!fs.exists(p(".bak")), "compaction must clear the stale .bak")
    assert(assertComplete() === bootstrap)
  }

  test("semantic dedup: planted copy groups drop to their smallest id, keepers stay") {
    import spark.implicits._
    // 24 scaled basis directions (pairwise cosine 0 — no accidental
    // near-dups, and more directions than IvfLists so the quantizer
    // can't give every vector a private centroid) plus two EXACT-copy
    // groups. Identical vectors score identically against every
    // centroid, so a copy group co-clusters by construction no matter
    // how the quantizer carves the space — the assertions below are
    // deterministic, not distribution-dependent.
    def unitVec(axis: Int): Array[Float] = {
      val a = new Array[Float](64); a(axis) = 1f; a
    }
    val base = (0 until 24).map(i => (i.toLong, unitVec(i)))
    val copies = Seq(100L -> unitVec(0), 101L -> unitVec(0), 102L -> unitVec(0),
      200L -> unitVec(1), 201L -> unitVec(1))
    val out = Similarity.qDedupSemanticFrom((base ++ copies).toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    // every non-minimal member of a copy group drops; its keeper is the
    // group minimum (all qualifying cosines tie at exactly 1.0, so the
    // max-struct agg's tiebreak must pick the smallest keep_id); the
    // orthogonal base directions (cosine 0 < tau) never drop
    assert(out === Seq((100L, 0L, 1.0), (101L, 0L, 1.0), (102L, 0L, 1.0),
      (200L, 1L, 1.0), (201L, 1L, 1.0)))
  }

  test("multi-probe LSH achieves recall >= 0.5 vs brute force") {
    val exactSet = exact.map(h => (h.qId, h.nId)).toSet
    val hit = approx.count(h => exactSet((h.qId, h.nId)))
    val recall = hit.toDouble / exactSet.size
    // Exact bucket + all Hamming-1 probes recover most single-probe loss
    // even on this unclustered synthetic corpus (clustered production
    // embeddings recall far higher at the same probe budget).
    assert(recall >= 0.5, f"recall $recall%.3f")
  }

  test("vector retraction: probes forget immediately; compaction purges; quantizer survives") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-ivfretract").toString + "/idx"
    Similarity.writeIvfIndexFrom(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") < 200), path)
    val allLists = spark.read.parquet(path).select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    def visible(): Set[Long] = Similarity.probeIvfIndex(spark, path, allLists)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val before = visible()
    assert(before.contains(7L) && before.contains(8L))
    // logical phase: the retracted vectors vanish from every probe
    Similarity.retractVectors(spark, path, Seq(7L, 8L))
    assert(visible() === before -- Set(7L, 8L))
    // physical phase: the compaction swap purges rows AND the sidecar,
    // and the quantizer (trained statistics, not per-vector state) must
    // ride through so the surviving lists stay meaningful
    Similarity.compactIvfIndex(spark, path)
    assert(!new java.io.File(path + "/_tombstones").exists,
      "compaction must clear the tombstone sidecar")
    assert(spark.read.parquet(path).filter(col("vec_id").isin(7L, 8L)).count() === 0,
      "retracted vectors must be physically gone")
    assert(visible() === before -- Set(7L, 8L))
    // the stored flow still answers off the purged index (centroids intact)
    assert(Similarity.qIvfProbeStored(spark, path).count() > 0)
  }

  test("LSH index as-of: batch slices reconstruct exactly; fold bounds the horizon") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-lshasof").toString + "/idx"
    val e = Tables.embeddings(spark, dir)
    Similarity.appendAnnIndexBatch(spark, e.filter(col("vec_id") < 200), path, 1L)
    Similarity.appendAnnIndexBatch(spark, e.filter(col("vec_id") >= 200), path, 2L)
    val allBuckets = spark.read.parquet(path)
      .select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    def asOfIds(asOf: Long): Set[Long] =
      Similarity.probeAnnIndexAsOf(spark, path, allBuckets, asOf)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(asOfIds(1L) ===
      e.filter(col("vec_id") < 200).select("vec_id").collect().map(_.getLong(0)).toSet)
    assert(asOfIds(2L) === e.select("vec_id").collect().map(_.getLong(0)).toSet)
    Similarity.compactAnnIndex(spark, path, foldBelow = 3L)
    val err = intercept[IllegalArgumentException](asOfIds(1L))
    assert(err.getMessage.contains("oldest reconstructable state is as of batch 2"))
    assert(asOfIds(2L) === e.select("vec_id").collect().map(_.getLong(0)).toSet,
      "the at-horizon as-of must survive the fold")
  }

  test("IVF as-of: pre-append probes see the bootstrap; retraction erases history; fold bounds the horizon") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-ivfasof").toString + "/idx"
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndexFrom(spark, e.filter(col("vec_id") < 200), path)
    Similarity.appendIvfIndexBatch(spark, e.filter(col("vec_id") >= 200), path, 3L)
    val allLists = spark.read.parquet(path).select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    def asOfIds(asOf: Long): Set[Long] =
      Similarity.probeIvfIndexAsOf(spark, path, allLists, asOf)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val bootIds = e.filter(col("vec_id") < 200)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // as of before batch 3: exactly the bootstrap's vectors
    assert(asOfIds(2L) === bootIds)
    // as of the newest batch: the full index
    assert(asOfIds(3L) === e.select("vec_id").collect().map(_.getLong(0)).toSet)
    // retraction erases history: a forgotten bootstrap vector is
    // invisible at every asOf
    Similarity.retractVectors(spark, path, Seq(7L))
    assert(asOfIds(2L) === bootIds - 7L)
    // the final fold absorbs batch 3: pre-horizon reads refuse loudly
    Similarity.compactIvfIndex(spark, path, foldBelow = 4L)
    val err = intercept[IllegalArgumentException](asOfIds(2L))
    assert(err.getMessage.contains("oldest reconstructable state is as of batch 3"),
      s"got: ${err.getMessage}")
    assert(asOfIds(3L) === e.select("vec_id").collect().map(_.getLong(0)).toSet - 7L,
      "the at-horizon as-of must survive the fold (minus the purged vector)")
  }

  test("MMR rerank: diversity beats raw rank on a planted redundant pool; partitioning-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // query pool: A is most relevant; B is a near-copy of A with lower
    // relevance; C is orthogonal. Plain top-2 = (A, B); MMR must pick
    // (A, C): B's redundancy penalty 0.3·sim(B,A)≈0.3 sinks its
    // 0.7·0.8 = 0.56 below C's 0.7·0.5 − 0.3·0 = 0.35... (0.26 < 0.35)
    val cands = Seq(
      (1L, 10L, 0.99, Seq(1.0f, 0.0f), 1.0),
      (1L, 11L, 0.80, Seq(1.0f, 0.001f), math.sqrt(1.0 + 0.001 * 0.001)),
      (1L, 12L, 0.50, Seq(0.0f, 1.0f), 1.0)
    ).toDF("q_id", "n_id", "rel", "emb", "nrm")
    Seq(cands, cands.repartition(5), cands.repartition(1)).foreach { c =>
      val got = Similarity.mmrRerank(c, k = 2).orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(4))).toSeq
      assert(got.map(_._2) === Seq(10L, 12L),
        s"MMR must pick the orthogonal candidate over the redundant one, got $got")
      // rank-1 score is λ·rel (empty selected set); rank-2 carries C's
      // zero-similarity score λ·0.5 (unrounded — the bit the oracle
      // compares is the raw double)
      assert(got(0)._3 === 0.7 * 0.99 && got(1)._3 === 0.7 * 0.5, s"scores: $got")
    }
    // the registered face: 5 picks per query, rank-1 = the brute-force
    // top-1 (MMR can never demote the most relevant item)
    val face = Similarity.qMmrRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val top1 = Similarity.qAnnTopk(spark, dir)
      .filter(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(face.groupBy(_._1).forall(_._2.length == 5), "five picks per query")
    face.filter(_._2 == 1L).foreach { case (q, _, n) =>
      assert(top1(q) === n, s"query $q: MMR rank 1 must equal the relevance top-1")
    }
  }

  test("LSH index retraction: probes forget; sidecar survives compaction while a batch can replay") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-annretract").toString + "/idx"
    val base = Tables.embeddings(spark, dir)
    // bootstrap on a slice by writing through the full-index writer's
    // layout (the writer itself is dir-scoped, so build the same shape
    // via a scoped batch on an empty bootstrap)
    Similarity.writeAnnIndex(spark, dir, path)
    // drop to a known bootstrap subset: keep it simple — the full index
    // is the bootstrap; batch 2 re-ingests nothing (a disjoint id range
    // synthesized by shifting)
    val b2 = base.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + lit(100000L))
    Similarity.appendAnnIndexBatch(spark, b2, path, 2L)
    val allBuckets = spark.read.parquet(path).select("bucket").distinct()
      .collect().map(_.getAs[Number](0).longValue).toSeq
    def visible(): Set[Long] = Similarity.probeAnnIndex(spark, path, allBuckets)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val before = visible()
    val scoped = before.filter(_ >= 100000L).head
    Similarity.retractVectors(spark, path, Seq(3L, scoped))
    assert(visible() === before -- Set(3L, scoped))
    // compaction retains the sidecar: batch 2 is replay-protected
    Similarity.compactAnnIndex(spark, path)
    assert(new java.io.File(path + "/_tombstones").exists,
      "tombstones must survive while a scoped batch remains")
    assert(visible() === before -- Set(3L, scoped))
    // the resurrection case: batch 2 replays verbatim (pure overwrite of
    // its own partitions) — the retained tombstone keeps hiding it
    Similarity.appendAnnIndexBatch(spark, b2, path, 2L)
    assert(visible() === before -- Set(3L, scoped),
      "a replayed batch must not resurrect a retracted vector")
    // the watermark completes the delete: batch 2 folds, rows purge,
    // sidecar clears — the vector-store GDPR path can actually finish
    Similarity.compactAnnIndex(spark, path, foldBelow = 3L)
    assert(!new java.io.File(path + "/_tombstones").exists,
      "a watermark covering every scoped batch must clear the sidecar")
    assert(spark.read.parquet(path).filter(col("vec_id").isin(3L, scoped)).count() === 0,
      "the watermark fold must physically purge the retracted vectors")
    assert(visible() === before -- Set(3L, scoped))
  }

  test("ANN planner: cheapest tier meeting the target, across targets and corpus sizes") {
    // a synthetic decision table pins the procedure independently of
    // what this corpus happens to measure; costs here take the
    // uniform-occupancy values (lshCand = 5n/16, ivfCand = 5n/16) —
    // the measured-cost flip case below is where they diverge
    val measured = Map(
      "lsh" -> 0.92, "ivf" -> 0.90, "pq" -> 0.95,
      "pq_refine" -> 0.99, "ivf_pq" -> 0.85, "ivf_pq_refine" -> 0.97)
    def uniformCosts(n: Long): Map[String, Double] =
      (measured.keySet + "brute").map(t => t -> Similarity.annTierCostMeasured(
        t, n, 5.0 * n / 16, 5.0 * n / 16)).toMap
    val n = 1000000L
    val costs = uniformCosts(n)
    // cost order at large n: ivf_pq < ivf_pq_refine < pq < pq_refine < ivf = lsh < brute
    assert(Similarity.chooseAnnTier(measured, costs, 0.5) === "ivf_pq",
      "everything clears a low bar; the cheapest tier must win")
    assert(Similarity.chooseAnnTier(measured, costs, 0.9) === "ivf_pq_refine",
      "ivf_pq (0.85) misses 0.9; the refined composition is the next-cheapest that clears it")
    assert(Similarity.chooseAnnTier(measured, costs, 0.98) === "pq_refine")
    assert(Similarity.chooseAnnTier(measured, costs, 1.0) === "brute",
      "only brute force guarantees exactness")
    // corpus size flips refine economics: at 10 vectors the refine
    // stage's fixed per-query re-read dwarfs the scan it saves
    assert(Similarity.chooseAnnTier(measured, uniformCosts(10L), 0.9) === "pq",
      "a tiny corpus makes the code scan cheaper than any refine constant")
    // equal cost ties break toward higher recall (ivf and lsh price
    // identically here: 5/16 of the corpus at full precision)
    assert(Similarity.chooseAnnTier(Map("lsh" -> 0.92, "ivf" -> 0.90),
      uniformCosts(n), 0.9) === "lsh")
    intercept[IllegalArgumentException] {
      Similarity.chooseAnnTier(measured, costs, 1.5)
    }
  }

  test("measured cost, not recall, flips the tier on a bucket-collapsed corpus") {
    import spark.implicits._
    // a corpus built to defeat the uniform-occupancy assumption: every
    // vector sits on the SAME side of all four hyperplanes (base = the
    // plane sum, whose dot with each plane is ~|p|² >> the jitter
    // term), so all LSH buckets collapse into one and a probe reads the
    // whole corpus — while the heuristic would still price LSH at 5/16
    val base = (0 until Similarity.Dim).map(d =>
      (0 until Similarity.AnnPlanes).map(p => Similarity.planeComponent(p, d)).sum).toArray
    val vecs = (0 until 400).map { i =>
      val v = base.clone()
      // deterministic small jitter: keeps every plane dot positive but
      // spreads directions enough that the IVF quantizer still splits
      (0 until Similarity.Dim).foreach { d =>
        v(d) += 0.05 * (((i * 31 + d * 7) % 11) - 5) / 5.0
      }
      (i.toLong, v.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val (n, lshCandPerQ, ivfCandPerQ) = Similarity.measuredCandidatesFrom(vecs)
    assert(n === 400L)
    assert(lshCandPerQ === (n - 1).toDouble,
      s"the collapsed corpus must measure LSH candidates = the full corpus, got $lshCandPerQ")
    assert(ivfCandPerQ < (n - 1).toDouble,
      s"the IVF probe must still prune on this corpus, got $ivfCandPerQ of ${n - 1}")
    // recalls where LSH and IVF are the only eligible tiers, LSH the
    // better-recall one: under UNIFORM costs they tie on price and the
    // tie breaks toward LSH; under MEASURED costs LSH prices at the
    // full corpus and IVF wins — the flip is pure cost
    val recalls = Map("lsh" -> 1.0, "ivf" -> 0.95)
    val uniform = (recalls.keySet + "brute").map(t => t -> Similarity.annTierCostMeasured(
      t, n, 5.0 * n / 16, 5.0 * n / 16)).toMap
    val measuredC = (recalls.keySet + "brute").map(t => t -> Similarity.annTierCostMeasured(
      t, n, lshCandPerQ, ivfCandPerQ)).toMap
    assert(Similarity.chooseAnnTier(recalls, uniform, 0.9) === "lsh",
      "uniform pricing ties the pruned tiers and recall breaks it toward lsh")
    assert(Similarity.chooseAnnTier(recalls, measuredC, 0.9) === "ivf",
      "measured pricing must expose the collapsed buckets and flip the choice to ivf")
  }

  test("q_ann_plan serves the chosen tier's own registered results, stamped with the choice") {
    val planned = Similarity.qAnnPlan(spark, dir)
    val tiers = planned.select("tier").distinct().collect().map(_.getString(0))
    assert(tiers.length === 1, "one decision per corpus")
    val tier = tiers.head
    val served = collect(planned.drop("tier"))
    val standalone = collect(Similarity.annTierFaces(tier)(spark, dir))
    assert(served === standalone,
      s"the planner must serve tier '$tier' verbatim — a re-derivation could drift")
    // the decision honors the target: the chosen tier's measured recall
    // clears it (brute needs no measurement)
    if (tier != "brute") {
      val m = Similarity.measuredTierRecall(spark, dir)
      assert(m(tier) + 1e-9 >= Similarity.AnnPlanRecallTarget,
        s"chosen tier $tier measures ${m(tier)} below the target")
    }
  }
}
