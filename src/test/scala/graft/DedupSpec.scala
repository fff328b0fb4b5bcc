package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Checkpointer, Dedup}

/** MinHash-LSH and SimHash candidate generation, validated against the
  * exact n-gram-Jaccard ground truth (q_dedup_ngram, itself verified by
  * the DuckDB differential gate).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private lazy val exactPairs: Map[(Long, Long), Double] =
    Dedup.qDedupNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private lazy val minhashPairs: Set[(Long, Long)] =
    Dedup.qDedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val simhashPairs: Set[(Long, Long)] =
    Dedup.qDedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup groups every document exactly once") {
    val total = Dedup.qDedupExact(spark, dir)
      .agg(sum("n_copies")).collect()(0).getLong(0)
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == docs)
  }

  test("testdata contains planted near-duplicates (ground truth non-empty)") {
    assert(exactPairs.nonEmpty)
    assert(exactPairs.values.forall(j => j >= 0.5 && j <= 1.0))
  }

  test("minhash-LSH recalls all high-Jaccard pairs (j >= 0.9)") {
    val high = exactPairs.filter(_._2 >= 0.9).keySet
    val missed = high -- minhashPairs
    assert(missed.isEmpty, s"minhash missed high-similarity pairs: $missed")
  }

  test("minhash-LSH candidate set is not a trivial superset (precision sanity)") {
    // With 4x4 banding on this corpus the candidates should overwhelmingly
    // be genuine near-dups, not random collisions.
    val genuine = minhashPairs.count(exactPairs.contains)
    assert(minhashPairs.nonEmpty)
    assert(genuine.toDouble / minhashPairs.size >= 0.5,
      s"only $genuine of ${minhashPairs.size} minhash candidates are genuine")
  }

  test("simhash finds near-identical pairs and nothing wildly dissimilar") {
    assert(simhashPairs.nonEmpty)
    val genuine = simhashPairs.count(exactPairs.contains)
    assert(genuine.toDouble / simhashPairs.size >= 0.5,
      s"only $genuine of ${simhashPairs.size} simhash pairs are genuine near-dups")
  }

  test("minhash is deterministic across runs") {
    val again = Dedup.qDedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == minhashPairs)
  }

  test("native fingerprint expressions agree with their UDF fallbacks") {
    import spark.implicits._
    import graft.functions.DocHashes
    val words = split(lower(col("text")), " ")
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "lorem ipsum dolor sit amet", "a b c").toDF("text")
    val native = docs.select(
      call_function("graft_simhash", words).as("sh"),
      call_function("graft_minhash", words).as("mh")).collect()
    val simUdf = udf((w: Seq[String]) => DocHashes.simhashSeq(w, 1))
    val mhUdf = udf((w: Seq[String]) => DocHashes.minhashSeq(w, 3, 16))
    val fallback = docs.select(simUdf(words).as("sh"), mhUdf(words).as("mh")).collect()
    native.zip(fallback).foreach { case (n, f) =>
      assert(n.getLong(0) === f.getLong(0))
      assert(n.getSeq[Long](1) === f.getSeq[Long](1))
    }
  }

  test("native gram-set kernel equals both builtin tree forms bit-for-bit") {
    // The kernel fronts every signature derivation (3-gram buckets) and
    // the decontamination gate (8-gram): the distinct gram STRINGS and
    // their first-occurrence ORDER are join keys and oracle-replayed
    // values, so native and tree must agree exactly — on real corpus
    // rows and on adversarial arrays (repeats, empty strings, shared
    // prefixes) alike.
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, dir)
      .select(split(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z ]", ""), " +", " ")), " ").as("words"))
      .filter(size(col("words")) >= 8)
    val adversarial = Seq(
      Seq("a", "b", "a", "b", "a", "b", "a", "b", "a", "b"),
      Seq("", "x", "", "x", "", "x", "", "x"),
      Seq("aa", "a", "aaa", "aa", "a", "aaa", "aa", "a"),
      (1 to 40).map(i => s"w${i % 5}")).toDF("words")
    val all = corpus.unionByName(adversarial)
    val d3 = all.select(
        call_function("graft_gramset", col("words"), lit(3)).as("n"),
        TreeForms.gramSetTree.as("t"))
      .filter(not(col("n") <=> col("t"))).count()
    assert(d3 === 0, "3-gram kernel must equal the concat_ws tree exactly")
    val d8 = all.select(col("words").as("w")).select(
        call_function("graft_gramset", col("w"), lit(8)).as("n"),
        TreeForms.decontamGramSetTree.as("t"))
      .filter(not(col("n") <=> col("t"))).count()
    assert(d8 === 0, "8-gram kernel must equal the array_join/slice tree exactly")
  }

  test("minhash agreement tracks exact Jaccard over generated corpora (property)") {
    // The quantitative bound behind the rows-only q_dedup_minhash entry:
    // per-pair signature agreement is an unbiased estimator of the 3-gram
    // Jaccard, and ≥1-band collisions recall high-Jaccard pairs at the
    // theoretical rate. Seeded generator → stable across runs.
    import graft.functions.DocHashes
    val rnd = new scala.util.Random(7)
    val pool = (0 until 500).map(i => s"w$i")
    def grams(words: Seq[String]): Set[String] =
      words.sliding(3).map(_.mkString(" ")).toSet
    val results = (0 until 200).map { i =>
      val n = 30 + rnd.nextInt(70)
      val base = Seq.fill(n)(pool(rnd.nextInt(pool.size)))
      // every 5th pair is near-identical so the high-Jaccard band is populated
      val mutRate = if (i % 5 == 0) rnd.nextDouble() * 0.03 else rnd.nextDouble() * 0.5
      val mutated = base.map(w =>
        if (rnd.nextDouble() < mutRate) pool(rnd.nextInt(pool.size)) else w)
      val (ga, gb) = (grams(base), grams(mutated))
      val j = (ga & gb).size.toDouble / (ga | gb).size
      val sa = DocHashes.minhashSeq(base, 3, 16)
      val sb = DocHashes.minhashSeq(mutated, 3, 16)
      val agree = sa.zip(sb).count(p => p._1 == p._2) / 16.0
      val bandHit = (0 until 4).exists(b => (b * 4 until (b + 1) * 4).forall(k => sa(k) == sb(k)))
      (j, agree, bandHit)
    }
    val meanDev = results.map { case (j, a, _) => a - j }.sum / results.size
    assert(math.abs(meanDev) <= 0.05, f"minhash agreement biased: mean deviation $meanDev%.3f")
    results.foreach { case (j, a, _) =>
      assert(math.abs(a - j) <= 0.45, f"pair with jaccard $j%.2f agreed on $a%.2f of hashes")
    }
    val high = results.filter(_._1 >= 0.9)
    assert(high.size >= 10, s"generator must produce high-jaccard pairs, got ${high.size}")
    val missRate = high.count(!_._3).toDouble / high.size
    assert(missRate <= 0.05,
      f"band collision missed $missRate%.2f of jaccard>=0.9 pairs (theory: ~0.014)")
  }

  test("clusterPairs contracts a 1,000-node path graph within the round budget") {
    // Diameter stress: plain min-label propagation needs ~1,000 rounds
    // here; star contraction must finish in O(log n).
    import spark.implicits._
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.clusterPairsWithRounds(pairs, maxIter = 12)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 1000)
    assert(got.forall(_._2 == 1L), "every node of the path must label to node 1")
    assert(rounds <= 12, s"star contraction took $rounds rounds on a 1,000-node path")
  }

  test("reliable checkpoint mode produces identical clusters to local mode") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = labelSet(Dedup.clusterPairs(pairs))
    val reliable = labelSet(Dedup.clusterPairs(pairs, ckpt = Checkpointer.Reliable(ckptDir)))
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
    assert(local === expected)
    assert(reliable === expected)
  }

  test("self-pair-only nodes survive as singleton clusters") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (42L, 42L), (7L, 7L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (42L, 42L), (7L, 7L)),
      "a node whose only appearance is reflexive must keep its own cluster")
  }

  test("session config selects the reliable checkpoint mode") {
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ccconf").toString
    spark.conf.set("spark.graft.cc.checkpoint", "reliable")
    spark.conf.set("spark.graft.cc.checkpointDir", ckptDir)
    try {
      assert(graft.operators.Checkpointer.fromConf(spark) ===
        Checkpointer.Reliable(ckptDir))
      // the conf-selected mode flows through the real entry point
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      val labels = Dedup.clusterPairs(pairs, ckpt = Checkpointer.fromConf(spark))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labels === Set((1L, 1L), (2L, 1L), (3L, 1L)))
    } finally {
      spark.conf.unset("spark.graft.cc.checkpoint")
      spark.conf.unset("spark.graft.cc.checkpointDir")
    }
    assert(graft.operators.Checkpointer.fromConf(spark) === Checkpointer.Local)
  }

  test("reliable mode releases intermediate round checkpoints from DFS") {
    import spark.implicits._
    // a 50-node path needs several contraction rounds; without release
    // every round's checkpoint would persist (rounds+1 rdd dirs)
    val pairs = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-rel")
    def rddDirs(d: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(new java.net.URI(d)))
      try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      finally s.close()
    }
    // the context checkpoint dir is shared across the session's tests —
    // measure the DELTA this run leaves behind (kept = canonical edges +
    // final round; every intermediate round must be released)
    val before = spark.sparkContext.getCheckpointDir.map(rddDirs).getOrElse(0L)
    val (labels, rounds) = Dedup.clusterPairsWithRounds(pairs,
      ckpt = Checkpointer.Reliable(ckptDir.toString))
    assert(labels.collect().forall(_.getLong(1) == 1L))
    assert(rounds >= 3, s"path graph should need several rounds, took $rounds")
    val after = rddDirs(spark.sparkContext.getCheckpointDir.get)
    assert(after - before <= 3,
      s"released rounds must not accumulate: +${after - before} rdd dirs after $rounds rounds")
  }

  test("cluster-memo eviction releases checkpoint storage across cycles") {
    // a long-lived session cycling corpora must not accumulate dead
    // checkpoint dirs: each clusteredDocs/clearClusters cycle ends with
    // every rdd dir the cycle created deleted (canonical edges + final
    // round included, not just the intermediate rounds)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    spark.conf.set("spark.graft.cc.checkpoint", "reliable")
    spark.conf.set("spark.graft.cc.checkpointDir", ckptDir)
    def rddDirs: Long = spark.sparkContext.getCheckpointDir.map { d =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(new java.net.URI(d)))
      try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      finally s.close()
    }.getOrElse(0L)
    try {
      val before = rddDirs
      (1 to 3).foreach { _ =>
        assert(Dedup.clusteredDocs(spark, dir).count() > 0)
        Dedup.clearClusters(spark)
      }
      assert(rddDirs === before,
        "evicted cluster stages must leave no checkpoint dirs behind")
      // and eviction is not destructive to correctness: the next call
      // recomputes the same labels
      val again = Dedup.clusteredDocs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.clearClusters(spark)
      assert(again.nonEmpty)
    } finally {
      spark.conf.unset("spark.graft.cc.checkpoint")
      spark.conf.unset("spark.graft.cc.checkpointDir")
      Dedup.clearClusters(spark)
    }
  }

  test("clusterPairs matches brute-force components on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 200
    val edges = Seq.fill(260) { (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) }
      .filter(p => p._1 != p._2)
    // union-find ground truth with min-node labels
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(v => (v, find(v.toInt).toLong)).toSet
    val got = Dedup.clusterPairs(edges.toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("stored-signature gate equals the in-query incremental gate") {
    // materializing the signature table must not change the answer — the
    // stored-table flow and the self-contained differential flow agree
    // row-for-row (both are oracle-checked against the same DuckDB SQL)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Long, Int)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    assert(rows(Dedup.qDedupGate(spark, dir)) === rows(Dedup.qDedupIncremental(spark, dir)))
  }

  test("ingest loop: gate a batch, append accepted signatures, gate the next") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-ingest").toString + "/store"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text about spark engines and scala")).toDF("doc_id", "text")
    Dedup.writeSignatures(Dedup.signaturesOf(corpus), store)
    def gate(docs: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      Dedup.gateAgainstStored(spark, store, Dedup.signaturesOf(docs))
        .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    // batch 1: doc 10 duplicates corpus doc 1; doc 11 is genuinely new
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "a brand new document with fresh unique wording entirely")).toDF("doc_id", "text")
    assert(gate(batch1) === Map(10L -> 1, 11L -> 0))
    // admit the accepted doc: its signatures join the store in place
    Dedup.appendSignaturesBatch(spark,
      Dedup.signaturesOf(batch1.filter(col("doc_id") === 11L)), store, 1L)
    // batch 2: a copy of the admitted doc must be caught by the GROWN
    // store — the property the whole loop exists for
    val batch2 = Seq(
      (20L, "a brand new document with fresh unique wording entirely")).toDF("doc_id", "text")
    assert(gate(batch2) === Map(20L -> 1))
  }

  test("retraction: gate forgets tombstoned docs immediately; compaction purges atomically") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-retract").toString + "/store"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text about spark engines and scala")).toDF("doc_id", "text")
    Dedup.writeSignatures(Dedup.signaturesOf(corpus), store)
    def gate(useBloom: Boolean): Map[Long, Int] = {
      val incoming = Seq(
        (10L, "the quick brown fox jumps over the lazy dog today"),
        (11L, "completely different text about spark engines and scala")).toDF("doc_id", "text")
      Dedup.gateAgainstStored(spark, store, Dedup.signaturesOf(incoming), useBloom = useBloom)
        .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    }
    assert(gate(useBloom = false) === Map(10L -> 1, 11L -> 1))
    // logical phase: tombstone doc 1 — its matches vanish immediately,
    // on BOTH the plain path and the Bloom path (whose sidecar still
    // carries doc 1's bucket bits: superset filters have no false
    // negatives, and the anti-joined exact check finds nothing)
    Dedup.retractSignatures(spark, store, Seq(1L))
    assert(gate(useBloom = false) === Map(10L -> 0, 11L -> 1))
    assert(gate(useBloom = true) === Map(10L -> 0, 11L -> 1))
    // physical phase: compaction rewrites WITHOUT the retracted rows and
    // the swapped-in store has no tombstone sidecar — purge + clear are
    // one atomic directory swap
    Dedup.compactSignatures(spark, store)
    assert(!new java.io.File(store + "/_tombstones").exists,
      "compaction must clear the tombstone sidecar")
    val survivors = spark.read.parquet(store).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(2L), "retracted rows must be physically gone")
    // verdicts identical post-purge, Bloom sidecar rebuilt from survivors
    assert(gate(useBloom = false) === Map(10L -> 0, 11L -> 1))
    assert(gate(useBloom = true) === Map(10L -> 0, 11L -> 1))
    // retracting and re-admitting the same content must work (tombstones
    // are gone, so a re-ingested copy is a fresh row, not auto-hidden)
    Dedup.appendSignaturesBatch(spark, Dedup.signaturesOf(
      Seq((30L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")),
      store, 1L)
    assert(gate(useBloom = false) === Map(10L -> 1, 11L -> 1))
  }

  test("retraction survives a replayed scoped batch: compaction retains the sidecar") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-retractreplay").toString + "/store"
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      (1L, "completely different text about spark engines and scala")).toDF("doc_id", "text")), store)
    // a batch-SCOPED admission (dynamic overwrite keyed by batch_id) —
    // replayable by contract
    val b3 = Dedup.signaturesOf(Seq(
      (2L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text"))
    Dedup.appendSignaturesBatch(spark, b3, store, 3L)
    def verdict(): Int = Dedup.gateAgainstStored(spark, store, Dedup.signaturesOf(Seq(
        (10L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")))
      .collect()(0).getInt(3)
    assert(verdict() === 1)
    Dedup.retractSignatures(spark, store, Seq(2L))
    assert(verdict() === 0)
    // compaction may not clear the tombstones while batch 3 can replay
    Dedup.compactSignatures(spark, store)
    assert(new java.io.File(store + "/_tombstones").exists,
      "tombstones must be retained while a scoped batch remains")
    assert(verdict() === 0)
    // the resurrection case: batch 3 replays verbatim — the retained
    // tombstone must keep doc 2 invisible
    Dedup.appendSignaturesBatch(spark, b3, store, 3L)
    assert(verdict() === 0, "a replayed batch must not resurrect a retracted doc")
    // the watermark completes the delete: once the caller declares no
    // replay below 4 can arrive, batch 3 folds, rows purge, sidecar clears
    Dedup.compactSignatures(spark, store, foldBelow = 4L)
    assert(!new java.io.File(store + "/_tombstones").exists,
      "a watermark covering every scoped batch must clear the sidecar")
    assert(spark.read.parquet(store).filter(col("doc_id") === 2L).count() === 0,
      "the watermark fold must physically purge the retracted rows")
    assert(verdict() === 0)
  }

  test("stored gate matches a driver-side brute force over a random corpus (property)") {
    // Independent ground truth: plain Scala sets re-deriving the spec'd
    // semantics (normalize → 40-char-prefix bucket → 3-gram Jaccard ≥
    // 0.5 within bucket), checked against the full store flow. Seeded
    // generator → stable across runs.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // letter-only words: normalization strips digits, so a "word$i" pool
    // would collapse to one token and every Jaccard to 0 or 1
    val pool = for (a <- 'a' to 'h'; b <- 'a' to 'e') yield s"$a${b}z"
    def mkDoc(n: Int): String = Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, mkDoc(2 + rnd.nextInt(20))))
    // 101 + id flips parity, so every mutant lands on the OPPOSITE side
    // of the corpus/incoming split from its base — the split below would
    // otherwise never separate a duplicate pair
    val mutated = base.map { case (id, t) =>
      val words = t.split(" ")
      (101L + id, words.map(w =>
        if (rnd.nextDouble() < 0.05) pool(rnd.nextInt(pool.size)) else w).mkString(" "))
    }
    val all = base ++ mutated
    val (corpusDocs, incomingDocs) = all.partition(_._1 % 2 == 0)
    def norm(t: String) = t.toLowerCase.replaceAll("[^a-z ]", "")
      .replaceAll(" +", " ").trim
    def grams(t: String): Set[String] = {
      val w = norm(t).split(" ").toSeq
      if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    def bucket(t: String) = norm(t).take(40)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val corpusSigs = corpusDocs.filter(d => grams(d._2).nonEmpty)
      .map(d => (bucket(d._2), grams(d._2)))
    val expected = incomingDocs.filter(d => grams(d._2).nonEmpty).map { case (id, t) =>
      val ga = grams(t)
      val js = corpusSigs.filter(_._1 == bucket(t)).map { case (_, gb) =>
        val inter = (ga & gb).size
        round6(inter.toDouble / (ga.size + gb.size - inter))
      }.filter(_ >= 0.5)
      (id, (if (js.isEmpty) 0.0 else js.max, js.size.toLong, if (js.nonEmpty) 1 else 0))
    }.toMap
    assert(expected.values.exists(_._3 == 1), "generator must plant real duplicates")
    assert(expected.values.exists(_._3 == 0), "generator must keep clean docs")
    assert(expected.values.exists(v => v._1 > 0.5 && v._1 < 1.0),
      "generator must exercise PARTIAL gram overlap, not just 0/1 Jaccards")
    val store = java.nio.file.Files.createTempDirectory("graft-prop").toString + "/store"
    Dedup.writeSignatures(Dedup.signaturesOf(corpusDocs.toDF("doc_id", "text")), store)
    val got = Dedup.gateAgainstStored(spark, store,
        Dedup.signaturesOf(incomingDocs.toDF("doc_id", "text")))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got === expected)
  }

  test("signature-store compaction shrinks files, folds batches, keeps verdicts") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/store"
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text about spark engines and scala")).toDF("doc_id", "text")), store)
    // several admitted batches, one of them replayed
    val admitted = Seq(
      (11L, "a brand new document with fresh unique wording entirely"),
      (12L, "yet another set of words nobody wrote before now"),
      (13L, "the final admitted batch carries this exact sentence")).toDF("doc_id", "text")
    admitted.collect().zipWithIndex.foreach { case (r, i) =>
      val one = Seq((r.getLong(0), r.getString(1))).toDF("doc_id", "text")
      Dedup.appendSignaturesBatch(spark, Dedup.signaturesOf(one), store, i + 1L)
      if (i == 1) Dedup.appendSignaturesBatch(spark, Dedup.signaturesOf(one), store, i + 1L) // replay
    }
    def parquetFiles: Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    // probe 23 targets the REPLAYED admission: the gate must count the
    // admitted doc once — and compaction must therefore not change
    // anything
    val probe = Seq(
      (20L, "a brand new document with fresh unique wording entirely"),
      (21L, "the quick brown fox jumps over the lazy dog today"),
      (22L, "text that matches nothing in the store at all ever"),
      (23L, "yet another set of words nobody wrote before now")).toDF("doc_id", "text")
    def gate(): Seq[(Long, Double, Long, Int)] =
      Dedup.gateAgainstStored(spark, store, Dedup.signaturesOf(probe))
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    val before = gate()
    assert(before.map(v => v._1 -> v._4).toMap ===
      Map(20L -> 1, 21L -> 1, 22L -> 0, 23L -> 1))
    assert(before.find(_._1 == 23L).get._3 === 1L,
      "a replayed admission must not double-count its doc in n_dup_matches")
    val filesBefore = parquetFiles
    Dedup.compactSignatures(spark, store, foldBelow = 4L) // all three batches replay-safe
    assert(parquetFiles < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $parquetFiles)")
    assert(gate() === before, "compaction must not change gate verdicts")
    // every surviving row is bootstrap-labeled, each exactly once
    val rows = spark.read.parquet(store)
    assert(rows.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(rows.groupBy("doc_id", "bucket").count()
      .filter(col("count") > 1).count() === 0L)
  }

  test("compacting an already-compacted store is a literal no-op (mtimes untouched)") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-noopc").toString + "/store"
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")), store)
    Dedup.appendSignaturesBatch(spark, Dedup.signaturesOf(Seq(
      (2L, "completely different text about spark engines and scala")).toDF("doc_id", "text")),
      store, 1L)
    def mtimes(path: String): Map[String, Long] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally s.close()
    }
    Dedup.compactSignatures(spark, store, foldBelow = 2L) // folds batch 1 into -1
    val after = mtimes(store)
    assert(after.nonEmpty)
    Dedup.compactSignatures(spark, store) // pristine layout → detected, skipped
    assert(mtimes(store) === after,
      "a second compaction must not rewrite a single file of a pristine store")
    // and the fresh bootstrap-only store skips its very first compaction too
    val pristine = java.nio.file.Files.createTempDirectory("graft-noopp").toString + "/store"
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")), pristine)
    val first = mtimes(pristine)
    Dedup.compactSignatures(spark, pristine)
    assert(mtimes(pristine) === first, "a bootstrap-only store must skip compaction entirely")
  }

  test("a pristine-store compaction still clears residue of an earlier crashed one") {
    import spark.implicits._
    // crash shape: an old compaction swapped the new store in but died
    // before deleting its .bak (and left a .compact behind). The store is
    // now pristine, so the fast path skips the rewrite — but it must NOT
    // skip the healing: the stale .bak holds pre-compaction (duplicate-
    // bearing) content that recover() would wrongly restore if the live
    // dir were ever lost.
    val base = java.nio.file.Files.createTempDirectory("graft-residue").toString
    val store = s"$base/store"
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")), store)
    // plant stale residue beside the live (pristine) store
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      (9L, "stale pre compaction content that must never be restored")).toDF("doc_id", "text")),
      store + ".bak")
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      (8L, "stale half written compaction output left behind")).toDF("doc_id", "text")),
      store + ".compact")
    Dedup.compactSignatures(spark, store) // pristine → fast path
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store + ".bak")),
      "the pristine fast path must delete a stale .bak, not step around it")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store + ".compact")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(store)), "the live store stays")
    // same contract on the ANN index's compaction
    val idx = s"$base/idx"
    graft.operators.Similarity.writeAnnIndex(spark, dir, idx)
    fs.mkdirs(new org.apache.hadoop.fs.Path(idx + ".bak"))
    graft.operators.Similarity.compactAnnIndex(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".bak")))
  }

  test("a crashed compaction recovers on the next store access, not just the next compaction") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-crash").toString + "/store"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    Dedup.writeSignatures(Dedup.signaturesOf(corpus), store)
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    def gate(): Map[Long, Int] =
      Dedup.gateAgainstStored(spark, store, Dedup.signaturesOf(probe))
        .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(gate() === Map(10L -> 1))
    // simulate the crash window: live dir moved to .bak, swap-in never ran
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + ".bak")))
    // the GATE (any access) must restore the backup and answer correctly
    assert(gate() === Map(10L -> 1),
      "recover-on-access must restore the backed-up store before reading")
    assert(fs.exists(new org.apache.hadoop.fs.Path(store)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store + ".bak")))
    // ...and an APPEND during the crash window must also recover first,
    // so the pre-crash corpus is preserved alongside the new rows
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + ".bak")))
    Dedup.appendSignaturesBatch(spark, Dedup.signaturesOf(Seq(
      (2L, "completely different text about spark engines and scala")).toDF("doc_id", "text")),
      store, 1L)
    assert(gate() === Map(10L -> 1), "the pre-crash corpus must survive the append")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store + ".bak")))
  }

  test("GBloom: no false negatives ever; unions merge exactly; fp rate sane") {
    import graft.functions.GBloom
    val k = 5
    val bits = new Array[Long](1 << 14) // 2^20 bits
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val members = (0 until 5000).map(i => s"bucket-$i")
    members.foreach(m => GBloom.add(bits, k, b(m)))
    assert(members.forall(m => GBloom.contains(bits, k, b(m))),
      "a Bloom filter must NEVER answer a false no — the pre-gate's soundness")
    val fp = (0 until 5000).count(i => GBloom.contains(bits, k, b(s"novel-$i")))
    assert(fp < 250, s"fp rate ${fp / 5000.0} is far beyond the sizing target")
    // union of blooms IS the bloom of the union (bitwise OR): build two
    // halves separately and together, byte-identical
    val h1 = new Array[Long](1 << 14); val h2 = new Array[Long](1 << 14)
    members.take(2500).foreach(m => GBloom.add(h1, k, b(m)))
    members.drop(2500).foreach(m => GBloom.add(h2, k, b(m)))
    assert(java.util.Arrays.equals(
      GBloom.union(GBloom.encode(h1, k), GBloom.encode(h2, k)),
      GBloom.encode(bits, k)))
    // wire form round-trips
    val (kd, bd) = GBloom.decode(GBloom.encode(bits, k))
    assert(kd === k && java.util.Arrays.equals(bd, bits))
  }

  test("native graft_bloom aggregate equals the driver-side fold bit-for-bit") {
    import spark.implicits._
    import graft.functions.GBloom
    assert(spark.catalog.functionExists("graft_bloom"))
    val buckets = (0 until 1000).map(i => s"bk-$i").toDF("bucket")
    val native = Dedup.bloomOfBuckets(buckets)
    val bits = new Array[Long](Dedup.BloomBits / 64)
    (0 until 1000).foreach(i => GBloom.add(bits, Dedup.BloomHashes,
      s"bk-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(java.util.Arrays.equals(native, GBloom.encode(bits, Dedup.BloomHashes)),
      "distributed OR-merge must equal a sequential build (determinism contract)")
  }

  test("bloom pre-gate: verdicts equal the plain stored gate row-for-row") {
    val plain = graft.SparkEntry.queries("q_dedup_gate")(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    val bloom = graft.SparkEntry.queries("q_dedup_bloom")(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    assert(bloom.toSeq === plain.toSeq,
      "the pre-gate has no false negatives: it must be answer-invisible")
  }

  test("bloom sidecar stays sound across appends: appended docs still gate as dups") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-bloomapp").toString + "/store"
    val a = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text about spark engines and scala")).toDF("doc_id", "text")
    val bNew = Seq(
      (11L, "a freshly appended document with its own unique wording"),
      (12L, "another appended piece of text nobody bootstrapped with")).toDF("doc_id", "text")
    Dedup.writeSignatures(Dedup.signaturesOf(a), store)
    Dedup.appendSignaturesBatch(spark, Dedup.signaturesOf(bNew), store, 1L)
    // re-ingesting the appended docs must report duplicates THROUGH the
    // bloom path: if the append had not absorbed its buckets into the
    // sidecar, the pre-filter would wrongly drop them as novel
    val verdicts = Dedup.gateAgainstStored(spark, store,
      Dedup.signaturesOf(bNew), useBloom = true).collect()
      .map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(verdicts === Map(11L -> 1, 12L -> 1),
      "appended buckets must be visible to the pre-gate (sidecar superset invariant)")
  }

  test("decontamination gate: planted 8-gram overlaps flagged, clean and short docs pass") {
    import spark.implicits._
    // benchmark doc: 9 normalized words -> exactly two 8-grams
    val bench = Seq((1000L, "Alpha bravo charlie delta echo foxtrot golf hotel india"))
      .toDF("doc_id", "text")
    val train = Seq(
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india", // exact: both grams hit
      2L -> "zz bravo charlie delta echo foxtrot golf hotel india",    // shares the 2nd gram only
      3L -> "one two three four five six seven eight nine",            // 8-grams, none shared
      4L -> "too short to shingle").toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 2L, 1000L), (2L, 1L, 1000L)))
  }

  test("fingerprint expressions tolerate null array elements (SQL surface)") {
    val r = spark.sql(
      """SELECT graft_simhash(array('a', CAST(NULL AS STRING), 'b')) AS sh,
        |       graft_minhash(array('a', CAST(NULL AS STRING), 'b', 'c')) AS mh""".stripMargin)
      .collect()(0)
    // null elements hash as empty string — result defined, no NPE
    assert(r.getSeq[Long](1).length === 16)
    val same = spark.sql("SELECT graft_simhash(array('a', '', 'b')) AS sh").collect()(0)
    assert(r.getLong(0) === same.getLong(0))
  }

  test("span dedup: first occurrence survives, later and intra-doc repeats drop") {
    import spark.implicits._
    // spans are 20 words; four distinct 20-word units s1..s4
    def unit(w: String) = Seq.fill(20)(w).mkString(" ")
    val (s1, s2, s3, s4) = (unit("aa"), unit("bb"), unit("cc"), unit("dd"))
    val docs = Seq(
      (1L, s"$s1 $s2"), // both novel: keeps 2 spans
      (2L, s"$s1 $s3"), // first span duplicates doc 1's: drops 1
      (3L, s"$s1 $s2"), // exact copy of doc 1: drops both
      (4L, s"$s4 $s4"), // intra-doc repeat: second occurrence drops
      (5L, s4)          // s4 already seen in doc 4: drops its only span
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.map(t => (t._1, t._2, t._3, t._4)) === Seq(
      (1L, 2L, 0L, 40L),
      (2L, 2L, 1L, 20L),
      (3L, 2L, 2L, 0L),
      (4L, 2L, 1L, 20L),
      (5L, 1L, 1L, 0L)))
    val hashOf = got.map(t => t._1 -> t._5).toMap
    // doc 3 kept nothing: fingerprint of the empty document
    val md = java.security.MessageDigest.getInstance("MD5")
    val emptyMd5 = md.digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hashOf(3L) === emptyMd5)
    assert(hashOf(5L) === emptyMd5)
    // docs 4 and a hypothetical doc holding only s4's first occurrence
    // fingerprint identically: doc 4's survivor set is exactly [s4]
    val s4Only = Dedup.spanDedup(Seq((9L, s4)).toDF("doc_id", "text"))
      .collect()(0).getString(4)
    assert(hashOf(4L) === s4Only)
    // doc 1 and doc 2 diverge (different survivor sets)
    assert(hashOf(1L) !== hashOf(2L))
  }

  test("exactSubstrings: maximal-by-construction spans, K threshold, internal repeats") {
    import spark.implicits._
    // alphabetic-only words (normText strips digits) — wd("q", i) is
    // unique per (tag, i) so only the planted runs can match
    def wd(tag: String, i: Int): String =
      tag + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    def words(tag: String, n: Int): Seq[String] = (0 until n).map(wd(tag, _))
    val shared15 = words("s", 15)   // 15-token run shared by docs 1,2
    val shared10 = words("t", 10)   // exactly K = 10 → must be found
    val shared9 = words("u", 9)     // K - 1 → must NOT be found
    val rep12 = words("r", 12)      // internal repeat inside doc 3
    val docs = Seq(
      (1L, (words("a", 5) ++ shared15 ++ words("b", 10)).mkString(" ")),
      (2L, (words("c", 2) ++ shared15 ++ words("d", 13)).mkString(" ")),
      (3L, (rep12 ++ words("e", 4) ++ rep12 ++ words("f", 4)).mkString(" ")),
      (4L, (shared10 ++ words("g", 10) ++ shared9).mkString(" ")),
      (5L, (words("h", 10) ++ shared10 ++ words("i", 3) ++ shared9).mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrings(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // maximality: ONE row per planted run — the islands merge, so no
    // sub-span of a longer match is ever reported separately
    assert(got === Seq(
      (1L, 2L, 6L, 3L, 15L),   // the 15-token run (1-based starts)
      (3L, 3L, 1L, 17L, 12L),  // same-doc internal repeat
      (4L, 5L, 1L, 11L, 10L)), // exactly-K run found; the 9-token run absent
      s"got $got")
  }

  test("as-of gate: latest equals the plain gate; compaction bounds the horizon loudly; retraction erases history") {
    val sig = Dedup.signatures(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-sigasof").toString + "/store"
    val boot = sig.filter(pmod(col("doc_id"), lit(10L)) =!= 0 && pmod(col("doc_id"), lit(10L)) =!= 5)
    Dedup.writeSignatures(boot, path)
    Dedup.appendSignaturesBatch(spark, sig.filter(pmod(col("doc_id"), lit(10L)) === 5), path, 5L)
    val incoming = sig.filter(pmod(col("doc_id"), lit(10L)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString), r.getLong(2))).toSeq
    // as of the newest batch the time-travel read IS the plain read
    assert(rows(Dedup.gateAgainstStoredAsOf(spark, path, incoming, asOf = 5L)) ===
      rows(Dedup.gateAgainstStored(spark, path, incoming)),
      "as-of the newest admission must equal the plain gate")
    // as of BEFORE the admission: verdicts equal a store that never saw batch 5
    val bootOnly = java.nio.file.Files.createTempDirectory("graft-sigboot").toString + "/store"
    Dedup.writeSignatures(boot, bootOnly)
    val preAdmission = rows(Dedup.gateAgainstStoredAsOf(spark, path, incoming, asOf = 4L))
    assert(preAdmission === rows(Dedup.gateAgainstStored(spark, bootOnly, incoming)),
      "as-of before the admission must see the bootstrap state exactly")
    // retraction erases history too: a doc forgotten from the bootstrap
    // must be invisible at EVERY asOf (deleted means deleted from the past)
    val victim = boot.select("doc_id").orderBy("doc_id").limit(1)
      .collect()(0).getLong(0)
    Dedup.retractSignatures(spark, path, Seq(victim))
    val bootMinus = java.nio.file.Files.createTempDirectory("graft-sigminus").toString + "/store"
    Dedup.writeSignatures(boot.filter(col("doc_id") =!= victim), bootMinus)
    assert(rows(Dedup.gateAgainstStoredAsOf(spark, path, incoming, asOf = 4L)) ===
      rows(Dedup.gateAgainstStored(spark, bootMinus, incoming)),
      "a retracted doc must not reappear in an as-of read")
    // compaction folds batch 5 into the bootstrap: the horizon advances,
    // pre-horizon reads refuse LOUDLY, at-horizon reads keep working
    Dedup.compactSignatures(spark, path, foldBelow = 6L)
    val e = intercept[IllegalArgumentException] {
      Dedup.gateAgainstStoredAsOf(spark, path, incoming, asOf = 4L)
    }
    assert(e.getMessage.contains("oldest reconstructable state is as of batch 5"),
      s"pre-horizon refusal must name the horizon, got: ${e.getMessage}")
    assert(rows(Dedup.gateAgainstStoredAsOf(spark, path, incoming, asOf = 5L)) ===
      rows(Dedup.gateAgainstStored(spark, path, incoming)),
      "the at-horizon as-of must survive the fold")
  }

  test("substrRemovalSummary: overlapping spans from different partners union, not sum") {
    import spark.implicits._
    def wd(i: Int): String = "z" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    val run = (0 until 30).map(wd)
    // doc 1 carries the full 30-token run (earliest → never a removal
    // target); docs 2 and 3 carry overlapping 20-token windows of it, so
    // doc 3 receives TWO spans — [1,21) from doc 1 and the contained
    // [1,11) from its overlap with doc 2 — whose union is 20 tokens in
    // ONE region (a sum would double-count the contained span)
    val docs = Seq(
      (1L, run.mkString(" ")),
      (2L, run.take(20).mkString(" ")),
      (3L, run.drop(10).mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrings(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSeq
    assert(spans.contains((1L, 3L, 1L, 20L)) && spans.contains((2L, 3L, 1L, 10L)),
      s"doc 3 must receive both the full and the contained span: $spans")
    val got = Dedup.substrRemovalSummary(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(2L -> ((20L, 1L)), 3L -> ((20L, 1L))), s"got $got")
  }
}
