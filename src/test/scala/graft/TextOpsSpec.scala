package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Structural invariants of the chunking and sampling operators (their
  * values are hash-verified against DuckDB oracles by the driver gate).
  */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("chunks tile every document: full coverage, bounded size, correct overlap") {
    val chunks = TextOps.qTextChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val nWords = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(split(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z ]", ""), " +", " ")), " "))
          .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (docId, rows) =>
      val sorted = rows.sortBy(_._2)
      // indexes are 0,1,2,... and starts advance by exactly the stride
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.foreach { case (_, idx, start, len) =>
        assert(start == idx * 80 + 1, s"doc $docId chunk $idx starts at $start")
        assert(len >= 1 && len <= 100)
      }
      // full coverage: last chunk must reach the document's final word
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen - 1 == nWords(docId),
        s"doc $docId: chunks end at ${lastStart + lastLen - 1} of ${nWords(docId)} words")
      // every non-final chunk is FULL (100 words), which with the
      // 80-word stride is exactly the 20-word overlap — `overlap >= 0`
      // alone would pass a regression that strode without overlapping
      sorted.toSeq.sliding(2).foreach { pair =>
        if (pair.size == 2) {
          val (_, _, s1, l1) = pair(0)
          val (_, _, s2, _) = pair(1)
          assert(s2 == s1 + 80, s"doc $docId stride: $s1 -> $s2")
          assert(l1 == 100, s"doc $docId non-final chunk len $l1 (overlap lost)")
        }
      }
    }
  }

  test("BPE training: planted corpus yields the hand-computed merges and encoding") {
    import graft.functions.Bpe
    // pair counts: (a,b)=5, (b,a)=2, (b,c)=1 → merge (a,b);
    // then (ab,ab)=2, (ab,c)=1 → merge (ab,ab); then all pairs < 2 → stop
    val merges = Bpe.trainMerges(Seq("abab" -> 2L, "abc" -> 1L), 10)
    assert(merges === IndexedSeq(("a", "b"), ("ab", "ab")))
    val table = new Bpe.MergeTable(merges)
    // rank order: (a,b) first everywhere, then leftmost-greedy (ab,ab)
    assert(Bpe.encodeWord("ababab", table).toSeq === Seq("abab", "ab"))
    assert(Bpe.encodeWord("abc", table).toSeq === Seq("ab", "c"))
    assert(Bpe.encodeWord("xyz", table).toSeq === Seq("x", "y", "z"))
    assert(Bpe.encodeWord("", table).isEmpty)
    // the tie-break is the lexicographically smallest pair: "ba" and "ab"
    // both occur twice; (a,b) < (b,a)
    assert(Bpe.trainMerges(Seq("ab" -> 2L, "ba" -> 2L), 1) === IndexedSeq(("a", "b")))
  }

  test("BPE encode∘decode identity: tokens of any word rejoin to the word") {
    import graft.functions.Bpe
    val rnd = new scala.util.Random(11)
    def randWord(): String = {
      val alphabet = "abcxyz" // small alphabet → merges actually fire
      (0 until 1 + rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val corpusWords = Seq.fill(300)(randWord())
    val counts = corpusWords.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }
    val table = new Bpe.MergeTable(Bpe.trainMerges(counts, 50))
    assert(table.merges.nonEmpty, "the random corpus must train at least one merge")
    // identity holds for trained words AND unseen words (fresh draws),
    // including strings with characters the table never saw
    val probes = corpusWords ++ Seq.fill(200)(randWord()) ++
      Seq("qqqq", "a", "zzzzzzzzzzzzzzzz", "ab1!ab", "été")
    probes.foreach { w =>
      val toks = Bpe.encodeWord(w, table)
      assert(toks.mkString("") === w, s"decode identity broke for '$w'")
      assert(toks.forall(_.nonEmpty))
    }
  }

  test("BPE native expression equals the UDF fallback; tokens compress the corpus") {
    import graft.functions.Bpe
    val docs = graft.sources.Tables.documents(spark, dir)
    val merges = TextOps.bpeMergesOf(docs)
    assert(merges.nonEmpty)
    val words = filter(split(
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z ]", ""), " +", " ")),
      " "), w => length(w) > 0)
    val base = docs.select(col("doc_id"), words.as("words"))
    val table = new Bpe.MergeTable(merges)
    val viaUdf = udf((ws: Seq[String]) => Bpe.encodeWords(ws, table))
    val native = base.select(col("doc_id"),
        TextOps.bpeTokensCol(col("words"), merges).as("toks"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(spark.catalog.functionExists("graft_bpe"),
      "the test session must exercise the NATIVE face")
    val fallback = base.select(col("doc_id"), viaUdf(col("words")).as("toks"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(native.nonEmpty)
    assert(native === fallback, "native graft_bpe must equal the UDF fallback verbatim")
    // real compression: trained merges must fuse something — strictly
    // fewer tokens than characters over the corpus
    val rows = TextOps.qTokenBpe(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val (nWords, nChars, nToks) = rows.reduce[(Long, Long, Long)] {
      case ((a1, b1, c1), (a2, b2, c2)) => (a1 + a2, b1 + b2, c1 + c2)
    }
    assert(nToks < nChars, s"merges must compress: $nToks tokens vs $nChars chars")
    assert(nToks >= nWords, "a token never spans a word boundary")
  }

  test("stored LM scores the training corpus identically to in-query; OOV smooths by hand value") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-lmmodel").toString + "/model"
    TextOps.writeLmModel(spark, docs, path)
    val stored = TextOps.lmScoreStored(spark, docs, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val inQuery = TextOps.lmScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    assert(stored === inQuery,
      "on its own training corpus the stored LM must score bit-identically to retraining")
    // a fully-OOV doc: every bigram scores ln(1/v) exactly (c2=0, c1=0)
    val v = spark.read.parquet(path + "/_vocab")
      .select("w").distinct().count()
    val novel = Seq((999L, "zz qq xx")).toDF("doc_id", "text")
    val got = TextOps.lmScoreStored(spark, novel, path).collect()(0)
    val fp = BigDecimal(math.log(1.0 / v) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val want = BigDecimal(fp * 2 / 1e6 / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(1) === 2L && got.getDouble(2) === want,
      "novel grams must smooth to ln(1/v) — the stored gate's graceful-degradation contract")
  }

  test("LM store grows exactly: bootstrap+appends ≡ single-shot training; replay and compaction preserve scores") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-lmgrow").toString + "/model"
    // bootstrap on a third, append the other two thirds as two batches
    TextOps.writeLmModel(spark, docs.filter(col("doc_id") % 3 === 0), path)
    TextOps.appendLmBatch(spark, docs.filter(col("doc_id") % 3 === 1), path, 1L)
    TextOps.appendLmBatch(spark, docs.filter(col("doc_id") % 3 === 2), path, 2L)
    def scores(): Seq[(Long, Long, Long)] =
      TextOps.lmScoreStored(spark, docs, path).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val grown = scores()
    // counts sum and vocab unions: the grown store must equal one
    // single-shot model over the full corpus, bit-for-bit
    val single = java.nio.file.Files.createTempDirectory("graft-lmsingle").toString + "/model"
    TextOps.writeLmModel(spark, docs, single)
    assert(grown === TextOps.lmScoreStored(spark, docs, single).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq,
      "additive counts + vocab union must reproduce single-shot training exactly")
    // a replayed append overwrites itself
    TextOps.appendLmBatch(spark, docs.filter(col("doc_id") % 3 === 2), path, 2L)
    assert(scores() === grown, "a replayed batch must leave the model unchanged")
    // folding batch 1 below the watermark preserves every score
    TextOps.compactLmModel(spark, path, foldBelow = 2L)
    assert(scores() === grown, "compaction must never move a score")
    val remaining = spark.read.parquet(path)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(remaining === Set(-1L, 2L),
      "folded batch partitions must collapse into the bootstrap")
  }

  test("degenerate stored models refuse loudly; LM compaction no-ops and folds vocab-only batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a corpus of single-word docs has an empty classifier domain: the
    // stored scorer must refuse with the vocabulary message, not NPE on
    // the NULL totals
    val nbPath = java.nio.file.Files.createTempDirectory("graft-nbdegen").toString + "/model"
    TextOps.writeNbModel(spark, Seq((1L, "solo"), (2L, "word")).toDF("doc_id", "text"), nbPath)
    val e = intercept[IllegalArgumentException] {
      TextOps.qualityClassifierStored(spark, Seq((3L, "some text")).toDF("doc_id", "text"), nbPath)
    }
    assert(e.getMessage.contains("empty vocabulary"))
    // compacting a store that does not exist is a no-op, not a crash
    TextOps.compactLmModel(spark,
      java.nio.file.Files.createTempDirectory("graft-lmnone").toString + "/never", 5L)
    // a counts-LESS LM store (every doc 1 word) has a real vocabulary
    // but ZERO bigram rows — a fileless partition layout; the
    // schema-pinned reads must score pure-OOV (ln(1/v)) instead of
    // dying on parquet schema inference
    val lmOovPath = java.nio.file.Files.createTempDirectory("graft-lmoov").toString + "/model"
    TextOps.writeLmModel(spark, Seq((1L, "solo"), (2L, "word")).toDF("doc_id", "text"), lmOovPath)
    val oov = TextOps.lmScoreStored(spark,
      Seq((9L, "alpha beta")).toDF("doc_id", "text"), lmOovPath).collect()(0)
    assert(oov.getLong(1) === 1L && oov.getDouble(2) === -0.693147,
      s"pure-OOV scoring under an empty count table must be ln(1/v), got $oov")
    // a batch of only short docs writes a _vocab partition but no counts
    // partition; compaction must fold it anyway
    val lmPath = java.nio.file.Files.createTempDirectory("graft-lmshort").toString + "/model"
    TextOps.writeLmModel(spark,
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"), lmPath)
    TextOps.appendLmBatch(spark, Seq((2L, "solo")).toDF("doc_id", "text"), lmPath, 0L)
    TextOps.compactLmModel(spark, lmPath, foldBelow = 1L)
    val vocabBatches = spark.read.parquet(lmPath + "/_vocab")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(vocabBatches === Set(-1L),
      s"vocab-only batch partitions must fold below the watermark, got $vocabBatches")
    // ...and the folded vocabulary still counts the union
    val v = spark.read.parquet(lmPath + "/_vocab").select("w").distinct().count()
    assert(v === 4L, "alpha beta gamma + solo")
  }

  test("stored NB classifier scores the training corpus identically; OOV llr is the hand constant") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-nbmodel").toString + "/model"
    TextOps.writeNbModel(spark, docs, path)
    val stored = TextOps.qualityClassifierStored(spark, docs, path).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq
    val inQuery = TextOps.qualityClassifier(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq
    assert(stored === inQuery,
      "on its training corpus the stored classifier must score bit-identically")
    // a fully-OOV doc: every token's llr is ln((1)/(n_pos+v)) − ln((1)/(n_neg+v));
    // totals derive from the summed batch counts (the batch-scoped
    // layout stores only doc counts in _meta), the prior from _meta
    val t = spark.read.parquet(path)
      .groupBy("w").agg(sum("c_pos").as("p"), sum("c_neg").as("n"))
      .agg(sum("p"), sum("n"), count(lit(1))).collect()(0)
    val (nPos, nNeg, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val m = spark.read.parquet(path + "/_meta").select("n_docs", "n_flagged").collect()(0)
    val priorFp = BigDecimal(math.log((m.getLong(1) + 1.0) /
        (m.getLong(0) - m.getLong(1) + 1.0)) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val novel = Seq((999L, "zz qq")).toDF("doc_id", "text")
    val got = TextOps.qualityClassifierStored(spark, novel, path).collect()(0)
    val fp = BigDecimal((math.log(1.0 / (nPos + v)) - math.log(1.0 / (nNeg + v))) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val want = BigDecimal((priorFp + 2 * fp) / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(1) === 2L && got.getDouble(2) === want)
  }

  test("stored BPE model encodes identically to in-query training") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-bpemodel").toString + "/model"
    TextOps.writeBpeModel(spark, docs, path)
    // the stored table round-trips rank-exact
    assert(TextOps.loadBpeModel(spark, path) === TextOps.bpeMergesOf(docs))
    // and the stored-model face is bit-identical to retraining in-query
    val fromStore = TextOps.tokenBpeStoredOf(spark, docs, path).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    val inQuery = TextOps.tokenBpeOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(fromStore === inQuery,
      "a frozen stored tokenizer must encode exactly like the training run that built it")
  }

  test("versioned BPE store: retrains append, history stays frozen, legacy layouts refuse") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = graft.sources.Tables.documents(spark, dir).select("doc_id", "text")
    val early = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 5)
    val path = java.nio.file.Files.createTempDirectory("graft-bpever").toString + "/model"
    // retrain before bootstrap refuses (nothing to version against)
    val e0 = intercept[IllegalArgumentException] {
      TextOps.appendBpeVersion(spark, docs, path, version = 1L)
    }
    assert(e0.getMessage.contains("writeBpeModel first"), e0.getMessage)
    TextOps.writeBpeModel(spark, early, path) // version 0
    val v0 = TextOps.loadBpeModel(spark, path)
    TextOps.appendBpeVersion(spark, docs, path, version = 1L)
    assert(TextOps.bpeVersions(spark, path) === Seq(0L, 1L))
    // the retrain did not touch version 0; the latest is the full-corpus table
    assert(TextOps.loadBpeModelAt(spark, path, 0L) === v0,
      "history must stay frozen through a retrain")
    assert(TextOps.loadBpeModelAt(spark, path, 0L) === TextOps.bpeMergesOf(early))
    assert(TextOps.loadBpeModel(spark, path) === TextOps.bpeMergesOf(docs),
      "the plain loader must serve the latest version")
    // replay of the same retrain is a pure overwrite of its own partition
    TextOps.appendBpeVersion(spark, docs, path, version = 1L)
    assert(TextOps.bpeVersions(spark, path) === Seq(0L, 1L) &&
      TextOps.loadBpeModelAt(spark, path, 1L) === TextOps.bpeMergesOf(docs))
    // never-trained versions refuse loudly, naming what exists
    val e1 = intercept[IllegalArgumentException] {
      TextOps.loadBpeModelAt(spark, path, 7L)
    }
    assert(e1.getMessage.contains("no version 7") &&
      e1.getMessage.contains("0, 1"), e1.getMessage)
    // a pre-versioning FLAT layout refuses instead of serving an
    // unauditable tokenizer (the legacy-layout loud-refusal discipline)
    val flat = java.nio.file.Files.createTempDirectory("graft-bpeflat").toString + "/model"
    import spark.implicits._
    Seq((0, "a", "b")).toDF("rank", "left", "right").write.parquet(flat)
    val e2 = intercept[IllegalArgumentException] { TextOps.loadBpeModel(spark, flat) }
    assert(e2.getMessage.contains("pre-versioning"), e2.getMessage)
  }

  test("BPE native path survives an EMPTY trained merge table") {
    import spark.implicits._
    // every word is a single distinct character: no adjacent pair ever
    // occurs, training stops with zero merges, and the native
    // expression must still type (array() of nothing is array<null> —
    // the literal has to keep array<array<string>>): per-char tokens out
    assert(spark.catalog.functionExists("graft_bpe"),
      "the test session must exercise the NATIVE face")
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val rows = TextOps.tokenBpeOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.toSeq === Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)),
      "an empty merge table must tokenize per character, not crash")
  }

  test("token-shard packing matches a driver-side greedy repack exactly") {
    import org.apache.spark.sql.functions._
    // independent ground truth: collect (doc_id, lang, tokens), replay
    // the greedy start-offset packer in plain Scala, compare aggregates
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), " +")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.groupBy(_._2).flatMap { case (lang, rows) =>
      var cum = 0L
      rows.sortBy(_._1).map { case (_, _, n) =>
        val shard = (cum / 4000L, lang)
        cum += n
        (shard._2, shard._1, n)
      }.groupBy(t => (t._1, t._2))
        .map { case ((l, s), g) => ((l, s), (g.size.toLong, g.map(_._3).sum)) }
    }.toMap
    val got = TextOps.qTokenShards(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // every lang starts at shard 0; ids may legitimately skip when one
    // document exceeds the whole budget (its successor lands past the
    // next boundary), so contiguity is NOT asserted
    got.keys.groupBy(_._1).foreach { case (lang, ks) =>
      assert(ks.map(_._2).min === 0L, s"$lang must start at shard 0")
    }
  }

  test("two-level shard packing is block-size invariant") {
    // the sum decomposition must be exact: any block size yields the
    // same shard assignment as any other (incl. the degenerate
    // one-block case ≡ the naive single-window packer)
    def stats(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val base = stats(TextOps.qTokenShards(spark, dir))
    assert(base.nonEmpty)
    Seq(16L, 64L, 1000000L).foreach { blk =>
      assert(stats(TextOps.qTokenShardsBlocked(spark, dir, blk)) === base,
        s"block size $blk must not change the packing")
    }
  }

  test("data mixture computes rates from corpus stats and samples at them") {
    val rows = TextOps.qDataMixture(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val corpus = rows.map(_._3).sum.toDouble
    val nLangs = rows.length
    rows.foreach { case (lang, rate, total, kept) =>
      // the rate is the documented function of corpus stats
      val w = if (lang == "zh") 0.6 else 0.4 / (nLangs - 1)
      val want = math.min(1.0, w * corpus / (2.0 * total))
      assert(math.abs(rate - want) < 1e-6, s"$lang rate $rate, want $want")
      assert(kept >= 0 && kept <= total)
      if (rate >= 1.0) assert(kept === total, s"$lang at rate 1 must keep everything")
      // Bernoulli at `rate`: the kept fraction concentrates around it
      else if (total >= 50)
        assert(math.abs(kept.toDouble / total - rate) <= 0.12,
          s"$lang kept ${kept.toDouble / total} at rate $rate")
    }
    assert(rows.exists(_._2 < 1.0), "some language must downsample")
    assert(rows.exists(_._2 == 1.0), "the upweighted language must cap at availability")
  }

  test("stratified sampling keeps deterministic per-language fractions") {
    val rows = TextOps.qStratifiedSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, total, kept) =>
      assert(kept >= 0 && kept <= total, s"$lang: $kept of $total")
    }
    // the en stratum must actually downsample (threshold 0x29 ≈ 16%)
    rows.find(_._1 == "en").foreach { case (_, total, kept) =>
      assert(kept < total, "en must be downsampled")
    }
    // rerun → identical decisions (content-hash, no RNG)
    val again = TextOps.qStratifiedSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == rows.toSeq)
  }

  test("repetition stats: planted repetitive doc flags, varied doc passes") {
    import spark.implicits._
    val docs = Seq(
      // "a"×4 of 6 words → top_frac 4/6; bigrams [a a, a a, a a, a b, b c]
      // → 5 total, 3 distinct → dup_frac 0.4: both rules trip
      1L -> "a a a a b c",
      // 8 distinct words → top_frac 0.125 < 0.14, all bigrams unique
      2L -> "one two three four five six seven eight",
      3L -> "solo").toDF("doc_id", "text") // <2 words: excluded
    val got = graft.operators.TextOps.repetitionStats(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getAs[Int]("flagged")))
    assert(got.map(_._1).toSeq === Seq(1L, 2L))
    val d1 = got(0)
    assert(d1._2 === 6L && d1._3 === 4L)
    assert(d1._4 === 0.666667 && d1._5 === 0.4 && d1._6 === 1)
    val d2 = got(1)
    assert(d2._4 === 0.125 && d2._5 === 0.0 && d2._6 === 0)
  }

  test("native normText kernel equals the regex tree bit-for-bit") {
    // normText is the first projection of every tokenizing corpus scan —
    // its output feeds tokenizers, md5 fingerprints and prefix buckets,
    // so the native byte-walk must reproduce the lower→strip→collapse→trim
    // regex chain exactly, including non-ASCII lowercasing (both paths
    // call UTF8String.toLowerCase) and multi-byte deletions.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val adversarial = Seq(
      "Hello, World!  123", "  leading and trailing  ", "ALL CAPS",
      "tabs\tand\nnewlines", "déjà vu — naïve", "İstanbul STRASSE ß",
      "ΑΒΓ ΔΕΖ", "emoji 🙂 inside", "a!b", "!!!", "", "   ",
      "mixed   SPACES    everywhere", "ÁÉÍÓÚ àèìòù", "ĄĆĘŁŃÓŚŹŻ",
      "ＦＵＬＬＷＩＤＴＨ", "ⅣⅤⅥ", "ʀᴀʙʙɪᴛ").toDF("text")
    val all = graft.sources.Tables.documents(spark, dir).select("text")
      .unionByName(adversarial)
    val diffs = all.select(
        call_function("graft_norm_text", col("text")).as("n"),
        TreeForms.normTextTree(col("text")).as("t"))
      .filter(not(col("n") <=> col("t"))).count()
    assert(diffs === 0, "native and regex-tree normText must be identical")
  }

  test("native bigram-array kernel equals the transform/concat tree bit-for-bit") {
    // The bigram construction fronts every LM/DSIR gram explode — the
    // strings are model join keys, so native and tree must agree exactly,
    // including concat's null-propagation (a null word nulls its bigrams,
    // it does not vanish like concat_ws would make it).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = graft.sources.Tables.documents(spark, dir)
      .select(split(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z ]", ""), " +", " ")), " ").as("words"))
      .filter(size(col("words")) >= 2)
    val adversarial = Seq(
      Seq("a", "b"), Seq("", "x", ""), Seq("aa", "a", "aaa"),
      Seq[String]("left", null, "right", null, null)).toDF("words")
    val diffs = corpus.unionByName(adversarial).select(
        call_function("graft_bigrams", col("words")).as("n"),
        TreeForms.bigramsOfWordsTree.as("t"))
      .filter(not(col("n") <=> col("t"))).count()
    assert(diffs === 0, "native and tree bigram arrays must be identical")
  }

  test("row-local top-word count equals the explode+groupBy formulation on the corpus") {
    // repetitionStats' (n_words, top_cnt) pair moved from an
    // explode → (doc, word) groupBy → (doc) re-groupBy → join chain to a
    // row-local kernel projection (r22): the label frame feeds the NB
    // classifier and the quality funnel, so the two formulations must
    // agree on every corpus document, not just planted cases.
    import org.apache.spark.sql.functions._
    val base = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        split(trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z ]", ""), " +", " ")), " ").as("words"))
      .filter(size(col("words")) >= 2)
    val reference = base
      .select(col("doc_id"), explode(col("words")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_cnt"), sum("c").as("n_words"))
    val rowLocal = base.select(col("doc_id"),
      call_function("graft_topcount", col("words")).as("top_cnt"),
      size(col("words")).cast("long").as("n_words"))
    assert(rowLocal.join(reference, Seq("doc_id"))
      .filter(rowLocal("top_cnt") =!= reference("top_cnt") ||
        rowLocal("n_words") =!= reference("n_words")).count() === 0L)
    // and the UDF fallback twin matches the kernel
    val viaUdf = udf((w: Seq[String]) => graft.functions.DocHashes.topCountSeq(w))
    assert(base.select(call_function("graft_topcount", col("words")).as("n"),
        viaUdf(col("words")).as("u"))
      .filter(col("n") =!= col("u")).count() === 0L)
  }

  test("Gopher structural rules: each signal fires on its planted doc, clean doc passes") {
    import spark.implicits._
    // every planted doc keeps its repetition signals BELOW threshold
    // (distinct words, distinct bigrams), so a flag can only come from
    // the structural rule it plants
    val docs = Seq(
      // mean word length 32/8 = 4.0, no symbols, no bullet/ellipsis lines
      1L -> "one two three four five six seven eight",
      // ten 1-char words → mean_word_len 1.0 < 3, top_frac 0.1 < 0.14
      2L -> "a b c d e f g h i j",
      // eight distinct 12-char words → mean_word_len 12.0 > 10
      3L -> ("abcdefghijkl bcdefghijklm cdefghijklmn defghijklmno " +
        "efghijklmnop fghijklmnopq ghijklmnopqr hijklmnopqrs"),
      // 3 '#' + 1 '...' over 8 words → symbol ratio 0.5 > 0.1
      4L -> "alpha # beta # gamma # delta ... epsilon zeta eta theta",
      // all 3 lines bullet-started → bullet_line_frac 1.0 > 0.9
      5L -> "- alpha bravo charlie\n- delta echo foxtrot\n- golf hotel india",
      // 2 of 3 lines ellipsis-ended → 0.666667 > 0.3
      6L -> ("alpha bravo charlie trails...\ndelta echo foxtrot ends...\n" +
        "golf hotel india is fine"),
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.repetitionStats(docs).collect().map { r =>
      r.getLong(0) -> ((r.getAs[Double]("mean_word_len"),
        r.getAs[Double]("symbol_word_ratio"), r.getAs[Double]("bullet_line_frac"),
        r.getAs[Double]("ellipsis_line_frac"), r.getAs[Int]("flagged")))
    }.toMap
    val (m1, s1, b1, e1, f1) = got(1L)
    assert(m1 === 4.0 && s1 === 0.0 && b1 === 0.0 && e1 === 0.0 && f1 === 0)
    assert(got(2L)._1 === 1.0 && got(2L)._5 === 1)
    assert(got(3L)._1 === 12.0 && got(3L)._5 === 1)
    assert(got(4L)._2 === 0.5 && got(4L)._5 === 1)
    assert(got(5L)._3 === 1.0 && got(5L)._5 === 1)
    assert(got(6L)._4 === 0.666667 && got(6L)._5 === 1)
  }

  test("NB quality classifier separates planted classes and generalizes past the rules") {
    import spark.implicits._
    // Three spam docs (top-word rule flags them), three clean docs, one
    // MIXED doc sharing the spam vocabulary without tripping any rule —
    // the classifier must reproduce the rule verdicts on the extremes
    // AND rank the mixed doc above every clean one (generalization: no
    // rule fires on it, but its tokens carry the flagged class's mass).
    // clean docs carry 8 DISTINCT words: top-word fraction 1/8 = 0.125
    // stays under Gopher's 0.14 (6 distinct words would be 0.167 — flagged,
    // and with no clean class the classifier degenerates to all-positive)
    val docs = Seq(
      1L -> "buy buy buy buy buy now",
      2L -> "buy buy buy buy buy cheap",
      3L -> "buy buy buy buy buy fast",
      4L -> "alpha beta gamma delta epsilon zeta eta theta",
      5L -> "science method result evidence theory claim data proof",
      6L -> "river mountain forest valley meadow stone cloud rain",
      7L -> "buy now alpha river science method cloud rain"
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.qualityClassifier(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getInt(3))).toSeq
    assert(got.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val byId = got.map(t => t._1 -> t).toMap
    Seq(1L, 2L, 3L).foreach(id => assert(byId(id)._3 === 1,
      s"doc $id carries the flagged class's tokens and must predict flagged"))
    Seq(4L, 5L, 6L).foreach(id => assert(byId(id)._3 === 0,
      s"doc $id is clean vocabulary and must predict clean"))
    val cleanMax = Seq(4L, 5L, 6L).map(byId(_)._2).max
    assert(byId(7L)._2 > cleanMax,
      "the mixed doc shares spam vocabulary: it must outrank every clean doc " +
        "even though no Gopher rule fires on it")
  }

  test("lm score: exact value on a hand-computed corpus; repetition scores higher") {
    import spark.implicits._
    // two identical 2-word docs: c2("a b")=2, c1("a")=2, V={a,b}=2
    // → P = (2+1)/(2+2) = 0.75 for the single bigram of each doc
    val tiny = Seq(1L -> "a b", 2L -> "a b").toDF("doc_id", "text")
    val gotTiny = graft.operators.TextOps.lmScore(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // mirror the engine's fixed-point steps exactly: HALF_UP (away from
    // zero — NOT scala math.round, which is floor(x+0.5)) at both stages
    val fp = BigDecimal(math.log(0.75) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val want = BigDecimal(fp / 1e6 / 1.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gotTiny.toSeq === Seq((1L, 1L, want), (2L, 1L, want)))
    // a doc made of the corpus's dominant bigram outscores a doc of
    // singleton bigrams (the perplexity-filter direction)
    val docs = Seq(
      10L -> "x y x y x y x y x y",
      11L -> "p q r s t u v w",
      12L -> "x y x y x y").toDF("doc_id", "text")
    val scores = graft.operators.TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(10L) > scores(11L),
      s"common bigrams must score higher: ${scores(10L)} vs ${scores(11L)}")
  }

  test("token shards: null-lang documents are excluded from packing (oracle carries the same WHERE)") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("en"), "one two three four"),
      (2L, None, "five six seven eight"), // unlabeled: no language, no shard
      (3L, Some("en"), "nine ten")).toDF("doc_id", "lang", "text")
    val got = graft.operators.TextOps.tokenShardsOf(docs, block = 2L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only the two en docs pack; doc 2 contributes to no shard
    assert(got.toSeq === Seq(("en", 0L, 2L, 6L)))
  }

  test("quality funnel reconciles exactly with its standalone stages") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val flagged = graft.operators.TextOps.repetitionStats(docs.select("doc_id", "text"))
      .filter(col("flagged") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    val lmFail = graft.operators.TextOps.lmScore(docs.select("doc_id", "text"))
      .filter(col("avg_logp") < graft.operators.TextOps.LmScoreMin)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // replay the funnel's sequential-gate semantics from the stage outputs
    val want = langOf.keys.toSeq.map { id =>
      if (flagged(id)) (langOf(id), "rep")
      else if (lmFail(id)) (langOf(id), "lm")
      else (langOf(id), "pass")
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Pipeline.qQualityFunnel(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (lang, total, nRep, nLm, nPass) =>
      assert(total === nRep + nLm + nPass, s"$lang: gates must partition the corpus")
      assert(nRep === want.getOrElse((lang, "rep"), 0L), s"$lang repetition gate")
      assert(nLm === want.getOrElse((lang, "lm"), 0L), s"$lang LM gate")
      assert(nPass === want.getOrElse((lang, "pass"), 0L), s"$lang pass-through")
    }
  }

  test("heavy hitters: sketch path active, result equals the exact answer") {
    import spark.implicits._
    assert(spark.catalog.functionExists("graft_mg"), "extension must register graft_mg")
    // planted: 'pad' is 150 of 300 en words (50%); each filler appears
    // once (1/300 < 1% → excluded). The tiny es stratum shows the
    // threshold is per-language: 1 of 2 words is 50%, so both report.
    // NB alphabetic suffixes — normText strips digits, so "filler1"
    // would collapse every filler into one (very heavy) word
    val docs = ((0 until 150).map { i =>
      val suffix = s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
      (i.toLong, s"pad filler$suffix", "en")
    } :+ (999L, "unico dos", "es")).toDF("doc_id", "text", "lang")
    val got = graft.operators.TextOps.heavyHittersOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(("en", "pad", 150L), ("es", "dos", 1L), ("es", "unico", 1L)))

    // against the real corpus: two-pass sketch result ≡ exact groupBy
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang").isNotNull)
      .select(col("lang"), explode(split(trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z ]", ""), " +", " ")), " ")).as("word"))
      .filter(col("word") =!= "")
    val exact = words.groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .join(words.groupBy("lang").agg(count(lit(1)).as("n_lang")), "lang")
      .filter(col("cnt") * lit(100L) > col("n_lang"))
      .select("lang", "word", "cnt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val q = TextOps.qHeavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(q.nonEmpty, "the Zipfy corpus must have >1% words")
    assert(q.toSet === exact, "sketch+recount must equal the exact heavy hitters")
    // deterministic: partitioning-dependent sketch content must not leak
    val again = TextOps.qHeavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq == q.toSeq)
  }

  test("per-group sample: exactly k per stratum, equal to the window formulation") {
    val rows = TextOps.qSamplePerGroup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val strata = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang").isNotNull)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byLang = rows.groupBy(_._1).view.mapValues(_.length).toMap
    strata.foreach { case (lang, n) =>
      assert(byLang.getOrElse(lang, 0) ===
        math.min(n, graft.operators.TextOps.SamplePerGroupK.toLong).toInt,
        s"$lang must sample min(k, stratum)")
    }
    // the aggregate face must equal the window face it replaces
    import org.apache.spark.sql.expressions.Window
    val pri = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double")
    val windowed = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang").isNotNull)
      .select(col("lang"), col("doc_id"), pri.as("pri"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("pri").desc, col("doc_id"))))
      .filter(col("rk") <= graft.operators.TextOps.SamplePerGroupK)
      .select("lang", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows.toSet === windowed)
    // rerun → identical sample (key-hash priority, no RNG)
    val again = TextOps.qSamplePerGroup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(again.toSeq == rows.toSeq)
  }

  test("compress ratio: repetition flags low, noise flags high, prose passes") {
    import spark.implicits._
    assert(spark.catalog.functionExists("graft_deflate_len"),
      "extension must register graft_deflate_len")
    val noise = new scala.util.Random(11).alphanumeric.take(400).mkString
    val docs = Seq(
      1L -> ("lorem " * 200).trim,      // pure repetition → ratio near 0
      2L -> noise,                       // high-entropy → ratio near 1
      3L -> ("the quick brown fox jumps over the lazy dog and then " +
        "wanders far away to sleep under an old oak tree until dawn " +
        "breaks and the farm slowly wakes to another quiet morning") * 2,
      4L -> "").toDF("doc_id", "text")
    val got = graft.operators.TextOps.compressRatioOf(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getInt(4)))).toMap
    assert(got(1L)._2.get < 0.30 && got(1L)._3 === 1, s"repetition must flag low: ${got(1L)}")
    assert(got(2L)._2.get > 0.75 && got(2L)._3 === 1, s"noise must flag high: ${got(2L)}")
    assert(got(3L)._3 === 0, s"ordinary prose must pass: ${got(3L)}")
    assert(got(4L)._1 === 0L && got(4L)._2.isEmpty && got(4L)._3 === 1,
      "empty doc: null ratio, flagged")
    // native expression ≡ UDF fallback (same deflate contract)
    val viaUdf = docs.select(col("doc_id"),
      udf((t: String) => graft.functions.Zlib.deflateLen(
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8))).apply(col("text")).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, (nb, _, _)) => assert(nb >= 0, s"doc $id") }
    val viaExpr = docs.select(col("doc_id"),
      call_function("graft_deflate_len", col("text")).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === viaUdf)
  }

  test("data split: key-pure assignment matching reference md5, ~80/10/10") {
    val rows = TextOps.qDataSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length.toLong === nDocs, "every document gets exactly one split row")
    // reference reimplementation: split must be a pure function of doc_id
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (id, bucket, split) =>
      val want = f"${md.digest(id.toString.getBytes("UTF-8")).head & 0xff}%02x"
      assert(bucket === want, s"doc $id bucket")
      val wantSplit =
        if (bucket <= "cb") "train" else if (bucket <= "e5") "val" else "test"
      assert(split === wantSplit, s"doc $id split")
      md.reset()
    }
    // hash-bucket Bernoulli concentrates near the 79.7/10.2/10.1 design
    val frac = rows.groupBy(_._3).view.mapValues(_.length.toDouble / rows.length).toMap
    assert(math.abs(frac.getOrElse("train", 0.0) - 0.797) < 0.06, s"train ${frac.get("train")}")
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.102) < 0.04, s"val ${frac.get("val")}")
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.101) < 0.04, s"test ${frac.get("test")}")
    // rerun → identical assignment (no RNG anywhere)
    val again = TextOps.qDataSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(again.toSeq == rows.toSeq)
  }

  test("source reputation: verdict precedence and the high_dup class on a planted corpus") {
    import spark.implicits._
    // the linear score is 0.001*words + 1 - punct_ratio, so clearing the
    // 1.051 threshold needs > 51 clean words (the synthetic corpus
    // averages ~54); junk text's punctuation ratio drags its mean under
    val clean = "plain words of ordinary quality text repeated for scoring " * 7
    val junk = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    val docs = (
      // srcdup: 4 identical copies of the clean doc → dup_share 0.75
      (1 to 4).map(i => (i.toLong, clean, "srcdup")) ++
      // srclow: junk → low_quality
      (5 to 8).map(i => (i.toLong, junk + s" uniq$i", "srclow")) ++
      // srcok: distinct clean docs → ok
      (9 to 12).map(i => (i.toLong, clean + s" uniq$i", "srcok")) ++
      // src3 is blocklisted AND duplicate-heavy: blocked must win
      (13 to 16).map(i => (i.toLong, clean, "src3"))
    ).toDF("doc_id", "text", "source")
    val rep = TextOps.sourceReputation(docs).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getString(4))).toMap
    assert(rep("srcdup")._2 === "high_dup", s"got $rep")
    assert(rep("srcdup")._1 === 0.75)
    assert(rep("srclow")._2 === "low_quality")
    assert(rep("srcok")._2 === "ok")
    // precedence: blocklist beats the (also-true) dup-share rule
    assert(rep("src3")._2 === "blocked")
    // the per-doc face (the actual qSourceFilter seam): exactly the
    // ok-source DOCS carry kept=1, everyone else kept=0 with the
    // source's verdict attached
    val perDoc = TextOps.sourceFilter(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getInt(3))).toMap
    assert(perDoc.size === 16, "one row per document")
    (9L to 12L).foreach(id => assert(perDoc(id) === (("ok", 1)), s"doc $id"))
    (1L to 4L).foreach(id => assert(perDoc(id) === (("high_dup", 0)), s"doc $id"))
    (5L to 8L).foreach(id => assert(perDoc(id) === (("low_quality", 0)), s"doc $id"))
    (13L to 16L).foreach(id => assert(perDoc(id) === (("blocked", 0)), s"doc $id"))
  }

  // ---- trained-model retraction (the round-13 GDPR-delete completion) ----

  private def lmScoresOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq

  test("LM retraction equals retraining on the survivors; replay no-ops; final compaction absorbs") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val gone = docs.filter(col("doc_id") % 5 === 2)
    val kept = docs.filter(col("doc_id") % 5 =!= 2)
    val path = java.nio.file.Files.createTempDirectory("graft-lmretr").toString + "/model"
    TextOps.writeLmModel(spark, docs, path)
    TextOps.retractLmDocs(spark, path, gone)
    val retracted = lmScoresOf(TextOps.lmScoreStored(spark, kept, path))
    // retrain-on-survivors is the ground truth, bit-for-bit — including
    // the vocabulary size, which only shrinks because the store keeps
    // per-word df rather than a word set
    assert(retracted === lmScoresOf(TextOps.lmScore(kept)),
      "correction-applied scores must equal retraining on the surviving corpus")
    // a REPLAYED retraction appends identical rows; distinct collapses them
    TextOps.retractLmDocs(spark, path, gone)
    assert(lmScoresOf(TextOps.lmScoreStored(spark, kept, path)) === retracted,
      "a replayed retraction must not subtract twice")
    // the final fold absorbs the correction physically and clears the sidecar
    TextOps.compactLmModel(spark, path, foldBelow = 100L)
    assert(!graft.sources.Stores.hasTombstones(spark, path),
      "the final compaction must clear the tombstone sidecar")
    assert(lmScoresOf(TextOps.lmScoreStored(spark, kept, path)) === retracted,
      "absorbing the correction must not move a score")
  }

  test("LM retraction rides the sidecar past replay-protected batches; refuses never-trained docs") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val boot = docs.filter(col("doc_id") % 3 === 0)
    val late = docs.filter(col("doc_id") % 3 === 1)
    val path = java.nio.file.Files.createTempDirectory("graft-lmretr2").toString + "/model"
    TextOps.writeLmModel(spark, boot, path)
    TextOps.appendLmBatch(spark, late, path, 5L)
    val gone = boot.filter(col("doc_id") % 5 === 0)
    val kept = docs.filter(col("doc_id") % 3 =!= 2)
      .filter(!(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0))
    TextOps.retractLmDocs(spark, path, gone)
    val want = lmScoresOf(TextOps.lmScore(kept))
    assert(lmScoresOf(TextOps.lmScoreStored(spark, kept, path)) === want)
    // batch 5 is ≥ the watermark: it may still replay, so the correction
    // CANNOT be absorbed (the retracted grams' batch attribution is
    // unknowable) — the sidecar must ride through the swap
    TextOps.compactLmModel(spark, path, foldBelow = 3L)
    assert(graft.sources.Stores.hasTombstones(spark, path),
      "corrections must survive a compaction that leaves replayable batches")
    assert(lmScoresOf(TextOps.lmScoreStored(spark, kept, path)) === want,
      "riding the sidecar through a fold must not move a score")
    // ...and the replay contract it protects actually holds: replay batch 5
    TextOps.appendLmBatch(spark, late, path, 5L)
    assert(lmScoresOf(TextOps.lmScoreStored(spark, kept, path)) === want,
      "a replayed batch over a carried sidecar must leave scores unchanged")
    // the final fold (watermark past batch 5) absorbs and clears
    TextOps.compactLmModel(spark, path, foldBelow = 6L)
    assert(!graft.sources.Stores.hasTombstones(spark, path))
    assert(lmScoresOf(TextOps.lmScoreStored(spark, kept, path)) === want)
    // never-trained docs refuse loudly, before anything lands
    val e = intercept[IllegalArgumentException] {
      TextOps.retractLmDocs(spark, path,
        Seq((9999L, "zz qq xx yy")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("not trained into this store"))
    assert(lmScoresOf(TextOps.lmScoreStored(spark, kept, path)) === want,
      "a refused retraction must leave the store untouched")
  }

  test("all-retracted LM refuses to score rather than serving a ghost model") {
    import spark.implicits._
    val two = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-lmretr3").toString + "/model"
    TextOps.writeLmModel(spark, two, path)
    TextOps.retractLmDocs(spark, path, two)
    val e = intercept[IllegalArgumentException] {
      TextOps.lmScoreStored(spark, two, path).collect()
    }
    assert(e.getMessage.contains("empty vocabulary"))
  }

  // ---- stored-LM as-of time travel (the round-14 model-store face) ----

  test("LM as-of: slices batches exactly, scopes retraction corrections to membership, erases history") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val boot = docs.filter(col("doc_id") % 3 === 0)
    val late = docs.filter(col("doc_id") % 3 === 1)
    val path = java.nio.file.Files.createTempDirectory("graft-lmasof").toString + "/model"
    TextOps.writeLmModel(spark, boot, path)
    TextOps.appendLmBatch(spark, late, path, 5L)
    // the pre-append state reconstructs exactly: as-of 4 ≡ a training
    // run that only ever saw the bootstrap (counts, contexts, AND v)
    assert(lmScoresOf(TextOps.lmScoreStoredAsOf(spark, boot, path, asOf = 4L)) ===
      lmScoresOf(TextOps.lmScore(boot)),
      "as-of before the append must equal training on the bootstrap alone")
    // as-of the newest batch ≡ the live read
    assert(lmScoresOf(TextOps.lmScoreStoredAsOf(spark, boot, path, asOf = 5L)) ===
      lmScoresOf(TextOps.lmScoreStored(spark, boot, path)),
      "as-of the latest batch must equal the live model")
    // membership discipline: retracting a doc only ever trained in
    // batch 5 must NOT shrink the as-of-4 model — its correction rows
    // sit in the sidecar but its doc was no member at batch 4
    TextOps.retractLmDocs(spark, path, late.filter(col("doc_id") % 2 === 0))
    assert(lmScoresOf(TextOps.lmScoreStoredAsOf(spark, boot, path, asOf = 4L)) ===
      lmScoresOf(TextOps.lmScore(boot)),
      "a post-as-of admission's retraction must not reach the as-of model")
    // retraction ERASES HISTORY: a bootstrap member's retraction applies
    // at every as-of it was a member of — the as-of-4 model becomes the
    // one trained on a corpus that never held the doc (GDPR divergence
    // from Delta time travel, deliberately shared across the family)
    val bootGone = boot.filter(col("doc_id") % 5 === 0)
    val bootKept = boot.filter(col("doc_id") % 5 =!= 0)
    TextOps.retractLmDocs(spark, path, bootGone)
    assert(lmScoresOf(TextOps.lmScoreStoredAsOf(spark, bootKept, path, asOf = 4L)) ===
      lmScoresOf(TextOps.lmScore(bootKept)),
      "as-of must serve the model retrained on the surviving as-of corpus")
  }

  test("LM as-of: compaction folds bound the horizon with the shared loud refusal") {
    import spark.implicits._
    val boot = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta")).toDF("doc_id", "text")
    val late = Seq((3L, "gamma delta epsilon")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-lmasofh").toString + "/model"
    TextOps.writeLmModel(spark, boot, path)
    TextOps.appendLmBatch(spark, late, path, 5L)
    TextOps.compactLmModel(spark, path, foldBelow = 6L)
    val e = intercept[IllegalArgumentException] {
      TextOps.lmScoreStoredAsOf(spark, boot, path, asOf = 4L)
    }
    assert(e.getMessage.contains("oldest reconstructable state is as of batch 5"),
      s"horizon refusal must name the oldest reconstructable state, got: ${e.getMessage}")
    // the horizon state itself still serves — the fully folded store
    val all = boot.unionByName(late)
    assert(lmScoresOf(TextOps.lmScoreStoredAsOf(spark, all, path, asOf = 5L)) ===
      lmScoresOf(TextOps.lmScore(all)),
      "the oldest reconstructable state must still score exactly")
  }

  private def nbScoresOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq

  test("NB retraction equals retraining on the survivors; replay no-ops; compaction absorbs") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val gone = docs.filter(col("doc_id") % 5 === 2)
    val kept = docs.filter(col("doc_id") % 5 =!= 2)
    val path = java.nio.file.Files.createTempDirectory("graft-nbretr").toString + "/model"
    TextOps.writeNbModel(spark, docs, path)
    TextOps.retractNbDocs(spark, path, gone)
    val retracted = nbScoresOf(TextOps.qualityClassifierStored(spark, kept, path))
    // ground truth: the in-query face retrained on the survivors — green
    // only if the correction reached both class-count columns, the token
    // totals, the vocabulary size, and the doc-count prior
    assert(retracted === nbScoresOf(TextOps.qualityClassifier(kept)),
      "correction-applied scores must equal retraining on the surviving corpus")
    TextOps.retractNbDocs(spark, path, gone)
    assert(nbScoresOf(TextOps.qualityClassifierStored(spark, kept, path)) === retracted,
      "a replayed retraction must not subtract twice")
    // physical absorption: sidecar cleared, _meta rewritten, scores frozen
    TextOps.compactNbModel(spark, path)
    assert(!graft.sources.Stores.hasTombstones(spark, path))
    assert(nbScoresOf(TextOps.qualityClassifierStored(spark, kept, path)) === retracted,
      "absorbing the correction must not move a score")
    // the rewritten _meta IS the retrained model's meta (doc counts are
    // the only stored scalars since the batch-scoped layout — the rest
    // derive from the counts at load)
    val m = spark.read.parquet(path + "/_meta").collect()(0)
    val single = java.nio.file.Files.createTempDirectory("graft-nbsingle").toString + "/model"
    TextOps.writeNbModel(spark, kept, single)
    val ms = spark.read.parquet(single + "/_meta").collect()(0)
    Seq("n_docs", "n_flagged").foreach { c =>
      assert(m.getAs[Long](c) === ms.getAs[Long](c), s"_meta.$c after absorption")
    }
    // never-trained docs refuse loudly
    val e = intercept[IllegalArgumentException] {
      TextOps.retractNbDocs(spark, path,
        Seq((9999L, "zz qq xx")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("not trained into this store"))
  }

  test("NB store grows exactly: bootstrap+appends ≡ single-shot training; replay preserves scores") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-nbgrow").toString + "/model"
    TextOps.writeNbModel(spark, docs.filter(col("doc_id") % 3 === 0), path)
    TextOps.appendNbBatch(spark, docs.filter(col("doc_id") % 3 === 1), path, 1L)
    TextOps.appendNbBatch(spark, docs.filter(col("doc_id") % 3 === 2), path, 2L)
    val grown = nbScoresOf(TextOps.qualityClassifierStored(spark, docs, path))
    // additive exactness: counts and doc counts sum to one-shot training
    assert(grown === nbScoresOf(TextOps.qualityClassifier(docs)),
      "bootstrap + appends must equal single-shot training bit-for-bit")
    // a replayed append rewrites its own partitions (dynamic overwrite)
    TextOps.appendNbBatch(spark, docs.filter(col("doc_id") % 3 === 2), path, 2L)
    assert(nbScoresOf(TextOps.qualityClassifierStored(spark, docs, path)) === grown,
      "a replayed append must not double-count")
    // compaction folds scoped batches score-preservingly
    TextOps.compactNbModel(spark, path, foldBelow = 2L)
    assert(nbScoresOf(TextOps.qualityClassifierStored(spark, docs, path)) === grown,
      "folding batches must not move a score")
  }

  test("NB as-of: slices batches exactly, scopes corrections to membership, bounds the horizon") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val boot = docs.filter(col("doc_id") % 3 === 0)
    val late = docs.filter(col("doc_id") % 3 === 1)
    val path = java.nio.file.Files.createTempDirectory("graft-nbasof").toString + "/model"
    TextOps.writeNbModel(spark, boot, path)
    TextOps.appendNbBatch(spark, late, path, 5L)
    // pre-append ≡ training on the bootstrap alone (counts, doc counts,
    // vocabulary AND prior all sliced)
    assert(nbScoresOf(TextOps.qualityClassifierStoredAsOf(spark, boot, path, asOf = 4L)) ===
      nbScoresOf(TextOps.qualityClassifier(boot)))
    // retracting a batch-5-only doc must not reach the as-of-4 model
    TextOps.retractNbDocs(spark, path, late.filter(col("doc_id") % 2 === 0))
    assert(nbScoresOf(TextOps.qualityClassifierStoredAsOf(spark, boot, path, asOf = 4L)) ===
      nbScoresOf(TextOps.qualityClassifier(boot)),
      "a post-as-of admission's retraction must not reach the as-of model")
    // a bootstrap member's retraction erases history at every as-of
    val bootGone = boot.filter(col("doc_id") % 5 === 0)
    val bootKept = boot.filter(col("doc_id") % 5 =!= 0)
    TextOps.retractNbDocs(spark, path, bootGone)
    assert(nbScoresOf(TextOps.qualityClassifierStoredAsOf(spark, bootKept, path, asOf = 4L)) ===
      nbScoresOf(TextOps.qualityClassifier(bootKept)),
      "as-of must serve the model retrained on the surviving as-of corpus")
    // compaction folds bound the horizon with the family's loud refusal
    TextOps.compactNbModel(spark, path, foldBelow = 6L)
    val e = intercept[IllegalArgumentException] {
      TextOps.qualityClassifierStoredAsOf(spark, bootKept, path, asOf = 4L)
    }
    assert(e.getMessage.contains("oldest reconstructable state is as of batch 5"),
      s"horizon refusal must name the oldest reconstructable state, got: ${e.getMessage}")
  }

  test("URL canonicalization table: the documented rules, case by case") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercase, default port drops, trailing slash strips
      ("HTTP://WWW.Example.COM:80/a/b/", "http://www.example.com/a/b"),
      // https default port; tracking params drop, kept params keep order
      ("https://Host.com:443/x?utm_source=a&id=3&fbclid=z#frag", "https://host.com/x?id=3"),
      // non-default ports stay
      ("https://host.com:8443/x", "https://host.com:8443/x"),
      // empty path canonicalizes to /
      ("http://host.com", "http://host.com/"),
      // all-tracking query drops the '?' entirely
      ("http://host.com/?utm_source=a&utm_medium=b", "http://host.com/"),
      ("http://host.com/a?ref=x&gclid=1", "http://host.com/a"),
      // 'referer' is NOT 'ref' — it stays; empty '&&' tokens drop
      ("http://host.com/a?ref=x&&referer=y", "http://host.com/a?referer=y"),
      // multiple trailing slashes all strip; bare slashes -> /
      ("http://host.com//", "http://host.com/"),
      // path case is KEPT (servers are case-sensitive there)
      ("http://HOST.com/CaseKept/File.HTML", "http://host.com/CaseKept/File.HTML"),
      // other schemes: no default-port rule, ports stay
      ("FTP://Host/x:y", "ftp://host/x:y"),
      ("ftp://host:80/x", "ftp://host:80/x"),
      // fragments strip even with no path
      ("http://host.com#top", "http://host.com/"),
      // whitespace trims
      ("  http://host.com/a  ", "http://host.com/a"))
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.urlCanonicalize(col("u"))).as[String].collect()
    cases.zip(got).foreach { case ((in, want), have) =>
      assert(have === want, s"canonicalize($in)")
    }
    // not a URL -> null, never a half-claim; interior whitespace is a
    // non-URL too (a $-anchored extraction over a newline would silently
    // truncate and merge distinct junk into one canonical group)
    val nulls = Seq("not a url", "host.com/path", "://x", "",
        "http://host/a\nb", "http://host/a b", "http://ho st/a")
      .toDF("u").select(TextOps.urlCanonicalize(col("u"))).collect()
    assert(nulls.forall(_.isNullAt(0)),
      "scheme-less or whitespace-bearing strings must canonicalize to null")
    // the dedup face composes: every canonical group keeps exactly one
    // doc, group sizes sum to the corpus, keeper is a member
    val docs = graft.sources.Tables.documents(spark, TestSpark.sfDir)
    val out = TextOps.urlDedup(docs).collect()
    assert(out.map(_.getLong(1)).sum === docs.count(),
      "variant counts must partition the corpus")
    assert(out.map(_.getLong(2)).distinct.length === out.length,
      "one keeper per canonical URL, no keeper serves two groups")
  }
}
