package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline, Search, Similarity, TextOps}
import graft.sources.{Stores, Tables}

/** [[graft.operators.Pipeline.ingestDocs]] — the one-call admission
  * twin of forgetDocs. Each store's append semantics are pinned by its
  * own spec (DedupSpec / SimilaritySpec / SearchSpec / TextOpsSpec);
  * what THIS spec proves is the composition's contract: one call grows
  * every configured store under one batch id, a replay of the whole
  * call is a no-op (idempotent-resume is the crash story — a call that
  * died after growing only one store converges when re-run in full),
  * and the RE-INGEST RULE holds across the families: pending
  * retractions refuse loudly, and forget → compact → re-ingest is the
  * sanctioned re-admission round trip. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def lmScores(d: org.apache.spark.sql.DataFrame) = d.collect()
    .map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq

  test("ingestDocs: one call grows every store; replay no-ops; partial-crash resume converges") {
    val docs = Tables.documents(spark, dir)
    val latePred = pmod(col("doc_id"), lit(3L)) === 0
    val boot = docs.filter(!latePred)
    val late = docs.filter(latePred)
    val vecs = Tables.embeddings(spark, dir)
    val latePredV = pmod(col("vec_id"), lit(3L)) === 0
    val base = Files.createTempDirectory("graft-ingest").toString
    val stores = Pipeline.DocStores(
      signatures = Some(base + "/sig"),
      vectors = Seq(base + "/ivf"),
      postings = Some(base + "/postings"),
      lmModel = Some(base + "/lm"),
      nbModel = Some(base + "/nb"))
    // bootstrap every store family on the early corpus (vec_id ≡ doc_id,
    // the convention DocStores documents)
    Dedup.writeSignatures(Dedup.signaturesOf(boot.select("doc_id", "text")), base + "/sig")
    Similarity.writeIvfIndexFrom(spark, vecs.filter(!latePredV), base + "/ivf")
    Search.writeSearchIndexFrom(spark, boot.select("doc_id", "text"), base + "/postings")
    TextOps.writeLmModel(spark, boot, base + "/lm")
    TextOps.writeNbModel(spark, boot, base + "/nb")

    def checkAllIngested(): Unit = {
      // signature store ≡ a one-shot bootstrap over the whole corpus
      // (same per-doc signature rows; only the batch scoping differs)
      val stored = spark.read.parquet(base + "/sig").drop("batch_id")
      val oneShot = Dedup.signaturesOf(docs.select("doc_id", "text"))
      assert(stored.count() === oneShot.count() &&
        stored.exceptAll(oneShot).count() === 0L,
        "signature store must hold exactly the full corpus' signatures")
      // vector index: every embedding present exactly once, assigned
      // under the BOOTSTRAP's frozen quantizer (production IVF
      // semantics — appending must not re-train the centroids)
      val vecIds = spark.read.parquet(base + "/ivf").select("vec_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(vecIds === vecs.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq,
        "vector index must hold every embedding exactly once")
      // posting store: the stored probe equals the in-query BM25 over
      // the FULL corpus — stats rows (N, avgdl) included
      assert(SearchProbe.scores(spark, base + "/postings") ===
        Search.bm25(docs.select("doc_id", "text")).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq,
        "posting store must score as one-shot indexing of the full corpus")
      // LM store: exact additive growth — stored ≡ single-shot training
      assert(lmScores(TextOps.lmScoreStored(spark, docs, base + "/lm")) ===
        lmScores(TextOps.lmScore(docs)),
        "LM store must score as single-shot training on the full corpus")
      // NB store: the batch-scoped additive classifier grows the same way
      assert(TextOps.qualityClassifierStored(spark, docs, base + "/nb").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq ===
        TextOps.qualityClassifier(docs).collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq,
        "NB store must score as single-shot training on the full corpus")
    }

    // partial-crash simulation: an ingest run that died after the FIRST
    // store's admission...
    Pipeline.ingestDocs(spark,
      Pipeline.DocStores(signatures = Some(base + "/sig")), late, batchId = 7L)
    // ...resumes by re-running the whole call — per-store replay
    // idempotency (dynamic overwrite of the batch's own partitions) is
    // the recovery protocol, no resume bookkeeping needed
    Pipeline.ingestDocs(spark, stores, late, batchId = 7L, vectors = Some(vecs.filter(latePredV)))
    checkAllIngested()
    // a full replay of the call is a no-op (bit-identical stores)
    Pipeline.ingestDocs(spark, stores, late, batchId = 7L, vectors = Some(vecs.filter(latePredV)))
    checkAllIngested()
    // routing a vector store without a vectors frame is a caller error
    val e = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, stores, late, batchId = 8L)
    }
    assert(e.getMessage.contains("no vectors frame"))
    // an EMPTY batch refuses (forgetDocs' rule — a phantom 0-doc _meta
    // partition would advance replay bookkeeping for no content)
    val emptyE = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, stores, late.limit(0), batchId = 8L,
        vectors = Some(vecs.filter(latePredV)))
    }
    assert(emptyE.getMessage.contains("empty ingest batch"))
    // cross-batch doc-disjointness: the SAME docs under a DIFFERENT
    // batch id would double-count model contributions — the guard
    // refuses via the _docs membership before anything lands
    val dup = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, stores, late, batchId = 8L,
        vectors = Some(vecs.filter(latePredV)))
    }
    assert(dup.getMessage.contains("another batch id"),
      s"re-ingest under a new batch id must refuse, got: ${dup.getMessage}")
    checkAllIngested() // and the refusal left every store untouched

    // ---- the re-ingest rule (forget → refuse → compact → re-admit) ----
    Pipeline.forgetDocs(spark, stores, late)
    val refused = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, stores, late, batchId = 9L,
        vectors = Some(vecs.filter(latePredV)))
    }
    assert(refused.getMessage.contains("PENDING retractions"),
      s"pending retractions must refuse re-ingest loudly, got: ${refused.getMessage}")
    // the refusal ran before any mutation: the stores still answer as
    // if the forget (alone) just happened
    assert(lmScores(TextOps.lmScoreStored(spark, boot, base + "/lm")) ===
      lmScores(TextOps.lmScore(boot)),
      "a refused ingest must leave every store untouched")
    // physical purge at each store's compaction clears the path
    Dedup.compactSignatures(spark, base + "/sig", foldBelow = 100L)
    Similarity.compactIvfIndex(spark, base + "/ivf", foldBelow = 100L)
    Search.compactSearchIndex(spark, base + "/postings", foldBelow = 100L)
    TextOps.compactLmModel(spark, base + "/lm", foldBelow = 100L)
    TextOps.compactNbModel(spark, base + "/nb", foldBelow = 100L)
    Seq("/sig", "/ivf", "/postings", "/lm", "/nb").foreach(p =>
      assert(!Stores.hasTombstones(spark, base + p),
        s"compaction must clear $p tombstones"))
    // re-admission after the purge is legal and exact
    Pipeline.ingestDocs(spark, stores, late, batchId = 9L,
      vectors = Some(vecs.filter(latePredV)))
    checkAllIngested()
  }

  /** Signature, IVF and posting stores over the corpus minus `late`;
    * the posting store also holds `late` when `postingsHoldLate`. */
  private def bootstrap(base: String,
      latePred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      postingsHoldLate: Boolean = false): Pipeline.DocStores = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, dir)
    val early = docs.filter(!latePred(col("doc_id")))
    Dedup.writeSignatures(Dedup.signaturesOf(early), base + "/sig")
    Similarity.writeIvfIndexFrom(spark, vecs.filter(!latePred(col("vec_id"))), base + "/ivf")
    Search.writeSearchIndexFrom(spark, if (postingsHoldLate) docs else early,
      base + "/postings")
    Pipeline.DocStores(signatures = Some(base + "/sig"), vectors = Seq(base + "/ivf"),
      postings = Some(base + "/postings"))
  }

  private def rows(p: String) =
    spark.read.parquet(p).collect().map(_.toString).sorted.toSeq

  test("ingestDocs: a batch clashing only in the posting store refuses before any store changes") {
    // the posting store's disjointness check is a guard like the others:
    // it must refuse before the signature and vector appends can land
    val latePred = (c: org.apache.spark.sql.Column) => pmod(c, lit(5L)) === 2
    val base = Files.createTempDirectory("graft-ingest-pclash").toString
    val stores = bootstrap(base, latePred, postingsHoldLate = true)
    val late = Tables.documents(spark, dir).filter(latePred(col("doc_id")))
      .select("doc_id", "text")
    val lateVecs = Tables.embeddings(spark, dir).filter(latePred(col("vec_id")))
    val (sigBefore, ivfBefore) = (rows(base + "/sig"), rows(base + "/ivf"))
    val e = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, stores, late, batchId = 7L, vectors = Some(lateVecs))
    }
    assert(e.getMessage.contains("another batch id"), e.getMessage)
    assert(rows(base + "/sig") === sigBefore, "the signature store must be unchanged")
    assert(rows(base + "/ivf") === ivfBefore, "the IVF store must be unchanged")
  }

  test("ingestDocs: one store's failing append does not stop the others; a re-run converges; every job carries the caller's group") {
    val latePred = (c: org.apache.spark.sql.Column) => pmod(c, lit(4L)) === 1
    val base = Files.createTempDirectory("graft-ingest-fail").toString
    val stores = bootstrap(base, latePred)
      .copy(lmModel = Some(base + "/lm"))
    val docs = Tables.documents(spark, dir)
    TextOps.writeLmModel(spark, docs.filter(!latePred(col("doc_id"))), base + "/lm")
    val late = docs.filter(latePred(col("doc_id")))
    val vecs = Tables.embeddings(spark, dir)
    val lateVecs = vecs.filter(latePred(col("vec_id")))
    // the IVF append cannot read its quantizer; its guards still pass
    val cents = java.nio.file.Paths.get(base, "ivf", "_centroids")
    val held = java.nio.file.Paths.get(base, "ivf", "_centroids.held")
    Files.move(cents, held)
    Files.createDirectory(cents)
    val ivfBefore = rows(base + "/ivf")
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.ingestDocs(spark, stores, late, batchId = 7L, vectors = Some(lateVecs))
    }
    assert(rows(base + "/ivf") === ivfBefore, "the failed store is unchanged")
    // the other stores' appends ran to completion
    val lateIds = late.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    def batch7(p: String) = spark.read.parquet(p).filter(col("batch_id") === 7L)
      .select("doc_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(batch7(base + "/postings/_docs") === lateIds, "the posting append completed")
    assert(batch7(base + "/lm/_docs") === lateIds, "the LM append completed")
    assert(batch7(base + "/sig") ===
      Dedup.signaturesOf(late.select("doc_id", "text")).select("doc_id").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq, "the signature append completed")
    // mend the store and re-run the same call under a job group
    Files.delete(cents)
    Files.move(held, cents)
    val (group, jobs) = JobProbe.jobsOf(spark) {
      Pipeline.ingestDocs(spark, stores, late, batchId = 7L, vectors = Some(lateVecs))
    }
    assert(jobs.nonEmpty && jobs.forall { case (g, tags) =>
      g == group && tags != null && tags.split(",").contains(group) },
      s"every job must carry the caller's group and tag: $jobs")
    val stored = spark.read.parquet(base + "/sig").drop("batch_id")
    val oneShot = Dedup.signaturesOf(docs.select("doc_id", "text"))
    assert(stored.count() === oneShot.count() && stored.exceptAll(oneShot).count() === 0L)
    assert(spark.read.parquet(base + "/ivf").select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq ===
      vecs.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq,
      "the re-run must land the batch in the mended store exactly once")
    assert(SearchProbe.scores(spark, base + "/postings") ===
      Search.bm25(docs.select("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq)
    assert(lmScores(TextOps.lmScoreStored(spark, docs, base + "/lm")) ===
      lmScores(TextOps.lmScore(docs)))
  }

  test("ingestDocs: a URI-addressed store under the local lock binding refuses BEFORE any mutation") {
    // the StoreLock path contract must surface through the composition
    // entry point, not just the unit: a remote-addressed store with the
    // default local binding would get a lock that excludes nobody on
    // other machines — the refusal lands up front, while every store is
    // still untouched
    val docs = Tables.documents(spark, dir).limit(5).select("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark,
        Pipeline.DocStores(signatures = Some("s3a://bucket/sig")), docs, batchId = 1L)
    }
    assert(e.getMessage.contains("local"), e.getMessage)
    assert(e.getMessage.contains("Bind"), s"the refusal must name the fix: ${e.getMessage}")
  }

  test("ingestDocs: cross-batch re-ingest refuses on INDEX-only store sets") {
    // the r14 gap: the model stores' _docs membership carried the
    // disjointness guard for the whole set, so a DocStores routing only
    // a signature or vector store silently accepted duplicates — the
    // index stores' membership is their own rows, and the guard must
    // hold from them alone
    val docs = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(11L)) === 0).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(11L)) === 0)
    val base = Files.createTempDirectory("graft-ingest-idx").toString

    val sigOnly = Pipeline.DocStores(signatures = Some(base + "/sig"))
    Pipeline.ingestDocs(spark, sigOnly, docs, batchId = 1L)
    val before = spark.read.parquet(base + "/sig").count()
    val e1 = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, sigOnly, docs, batchId = 2L)
    }
    assert(e1.getMessage.contains("another batch id"),
      s"signature-only re-ingest must refuse, got: ${e1.getMessage}")
    assert(spark.read.parquet(base + "/sig").count() === before,
      "the refusal must land before any mutation")
    // the guard's first touch built the id-membership sidecar; every
    // later guard probes it map-side instead of scanning the store
    assert(new java.io.File(base + "/sig/_idbloom.bin").exists(),
      "the disjointness guard must leave the lazily-built id-bloom sidecar")
    // SAME-batch replay stays legal (idempotent resume)
    Pipeline.ingestDocs(spark, sigOnly, docs, batchId = 1L)
    assert(spark.read.parquet(base + "/sig").count() === before)
    // a DISJOINT batch passes on the Bloom probe alone (all-miss =
    // provably novel) and its ids absorb into the sidecar, so the NEXT
    // duplicate attempt — of the new batch — still refuses
    val fresh = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(11L)) === 1).select("doc_id", "text")
    Pipeline.ingestDocs(spark, sigOnly, fresh, batchId = 3L)
    assert(spark.read.parquet(base + "/sig").count() > before,
      "a novel batch must land")
    val e3 = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, sigOnly, fresh, batchId = 4L)
    }
    assert(e3.getMessage.contains("another batch id"),
      s"post-absorb re-ingest must refuse, got: ${e3.getMessage}")

    val vecOnly = Pipeline.DocStores(vectors = Seq(base + "/lsh"))
    Similarity.writeAnnIndexFrom(spark, vecs, base + "/lsh")
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, vecOnly, docs, batchId = 2L, vectors = Some(vecs))
    }
    assert(e2.getMessage.contains("another batch id") &&
      e2.getMessage.contains("vector"),
      s"vector-only re-ingest must refuse, got: ${e2.getMessage}")
  }

  test("a re-bootstrap retires the stale id-bloom sidecar with the corpus it described") {
    // writeSignatures replaces the WHOLE corpus; an `_idbloom.bin` built
    // over the old corpus does not contain the new corpus's ids, and a
    // Bloom MISS is treated as provably novel — so a surviving stale
    // sidecar would let a duplicate ingest pass the disjointness guard
    // silently. The overwriteAside swap must retire it with the data.
    val a = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(17L)) === 0).select("doc_id", "text")
    val c = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(17L)) === 1).select("doc_id", "text")
    val base = Files.createTempDirectory("graft-reboot").toString
    val sig = base + "/sig"
    val sigOnly = Pipeline.DocStores(signatures = Some(sig))
    Dedup.writeSignatures(Dedup.signaturesOf(a), sig)
    // first guard touch builds the sidecar over corpus A (+ batch 1)
    Pipeline.ingestDocs(spark, sigOnly,
      Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(17L)) === 2)
        .select("doc_id", "text"), batchId = 1L)
    assert(new java.io.File(sig + "/_idbloom.bin").exists())
    // re-bootstrap over corpus C: the sidecar must go with the old corpus
    Dedup.writeSignatures(Dedup.signaturesOf(c), sig)
    assert(!new java.io.File(sig + "/_idbloom.bin").exists(),
      "a bootstrap overwrite must retire the old corpus's id-bloom")
    assert(!graft.sources.StoreLock.isHeld(sig), "bootstrap claim released")
    // the rebuilt guard sees corpus C: a duplicate of C refuses loudly
    val dup = intercept[IllegalArgumentException] {
      Pipeline.ingestDocs(spark, sigOnly, c, batchId = 7L)
    }
    assert(dup.getMessage.contains("another batch id"),
      s"post-re-bootstrap duplicate must refuse, got: ${dup.getMessage}")
    // same retirement contract on the ANN bootstrap face
    val vecs = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(17L)) === 0)
    val lsh = base + "/lsh"
    Similarity.writeAnnIndexFrom(spark, vecs, lsh)
    graft.sources.IdBloom.ensure(spark, lsh, "vec_id")
    assert(new java.io.File(lsh + "/_idbloom.bin").exists())
    Similarity.writeAnnIndexFrom(spark, vecs, lsh)
    assert(!new java.io.File(lsh + "/_idbloom.bin").exists(),
      "the ANN bootstrap must retire the stale id-bloom too")
  }

  test("ingestDocs: a fresh store holding only crashed-write staging residue reads as absent") {
    // a FIRST ingest into a fresh store that crashes mid-write leaves
    // the dir containing only Spark staging residue (underscore/dot
    // entries) — the documented idempotent-resume retry of that same
    // batch must CONVERGE, not die permanently on parquet schema
    // inference over the residue
    val docs = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(13L)) === 0).select("doc_id", "text")
    val base = Files.createTempDirectory("graft-ingest-residue").toString
    assert(new java.io.File(base + "/sig/_temporary/0").mkdirs())
    val sigOnly = Pipeline.DocStores(signatures = Some(base + "/sig"))
    Pipeline.ingestDocs(spark, sigOnly, docs, batchId = 1L)
    assert(spark.read.parquet(base + "/sig").count() > 0L,
      "the retried first batch must land")
  }
}
