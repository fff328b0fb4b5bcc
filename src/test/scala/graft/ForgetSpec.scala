package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline, Search, Similarity, TextOps}
import graft.sources.{Stores, Tables}

/** [[graft.operators.Pipeline.forgetDocs]] — the one-call deletion
  * composition over every store family. The per-store retraction
  * semantics are pinned by each store's own spec (DedupSpec /
  * SimilaritySpec / SearchSpec / TextOpsSpec); what THIS spec proves is
  * the composition's contract: one call reaches every configured store,
  * a replay of the whole call is a no-op, and the idempotent-resume
  * crash story holds — a call that died after retracting only one store
  * converges when re-run in full. */
class ForgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("forgetDocs: one call forgets a doc set in every store; replay no-ops; partial-crash resume converges") {
    val docs = Tables.documents(spark, dir)
    val gonePred = pmod(col("doc_id"), lit(7L)) === 3
    val gone = docs.filter(gonePred)
    val surv = docs.filter(!gonePred)
    val ids = gone.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val base = Files.createTempDirectory("graft-forget").toString
    val stores = Pipeline.DocStores(
      signatures = Some(base + "/sig"),
      vectors = Seq(base + "/ivf"),
      postings = Some(base + "/postings"),
      lmModel = Some(base + "/lm"),
      nbModel = Some(base + "/nb"))
    // one corpus, all five store families (embeddings share the id
    // space with documents — the vec_id ≡ doc_id convention forgetDocs
    // documents)
    Dedup.writeSignatures(Dedup.signaturesOf(docs.select("doc_id", "text")), base + "/sig")
    Similarity.writeIvfIndexFrom(spark, Tables.embeddings(spark, dir), base + "/ivf")
    Search.writeSearchIndexFrom(spark, docs.select("doc_id", "text"), base + "/postings")
    TextOps.writeLmModel(spark, docs, base + "/lm")
    TextOps.writeNbModel(spark, docs, base + "/nb")

    def lmScores(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    def nbScores(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq
    def checkAllForgotten(): Unit = {
      // index stores: the tombstone-subtracted read (what every gate and
      // probe consumes) holds none of the forgotten ids
      assert(Stores.minusTombstones(spark, base + "/sig", "doc_id",
          spark.read.parquet(base + "/sig"))
        .filter(col("doc_id").isin(ids: _*)).count() === 0L,
        "signature store must answer as never-ingested")
      assert(Stores.minusTombstones(spark, base + "/ivf", "vec_id",
          spark.read.parquet(base + "/ivf"))
        .filter(col("vec_id").isin(ids: _*)).count() === 0L,
        "vector index must answer as never-ingested")
      // posting store: the stored probe equals the in-query scorer over
      // the SURVIVING corpus — i.e. the N/avgdl correction landed too
      assert(SearchProbe.scores(spark, base + "/postings") ===
        Search.bm25(surv.select("doc_id", "text")).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq,
        "posting store must score as if trained on the survivors")
      // model stores: stored faces equal retraining on the survivors
      assert(lmScores(TextOps.lmScoreStored(spark, surv, base + "/lm")) ===
        lmScores(TextOps.lmScore(surv)),
        "LM store must score as a retrain on the survivors")
      assert(nbScores(TextOps.qualityClassifierStored(spark, surv, base + "/nb")) ===
        nbScores(TextOps.qualityClassifier(surv)),
        "NB store must score as a retrain on the survivors")
    }

    // partial-crash simulation: a forget run that died after the FIRST
    // store's retraction...
    Dedup.retractSignatures(spark, base + "/sig", ids)
    // ...resumes by re-running the whole call — per-store idempotency is
    // the recovery protocol, no resume bookkeeping needed
    Pipeline.forgetDocs(spark, stores, gone)
    checkAllForgotten()
    // a full replay of the call is a no-op
    Pipeline.forgetDocs(spark, stores, gone)
    checkAllForgotten()
    // absent stores are skipped, not errors (a deployment maintaining
    // only a subset)
    Pipeline.forgetDocs(spark,
      Pipeline.DocStores(signatures = Some(base + "/sig")), gone)
    checkAllForgotten()
  }

  test("forgetDocs: one store's failing retraction does not stop the others; a re-run converges; every job carries the caller's group") {
    val docs = Tables.documents(spark, dir)
    val gonePred = pmod(col("doc_id"), lit(9L)) === 4
    val gone = docs.filter(gonePred)
    val surv = docs.filter(!gonePred)
    val ids = gone.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val base = Files.createTempDirectory("graft-forget-fail").toString
    val stores = Pipeline.DocStores(
      signatures = Some(base + "/sig"),
      vectors = Seq(base + "/ivf"),
      postings = Some(base + "/postings"),
      lmModel = Some(base + "/lm"))
    Dedup.writeSignatures(Dedup.signaturesOf(docs.select("doc_id", "text")), base + "/sig")
    Similarity.writeIvfIndexFrom(spark, Tables.embeddings(spark, dir), base + "/ivf")
    Search.writeSearchIndexFrom(spark, docs.select("doc_id", "text"), base + "/postings")
    TextOps.writeLmModel(spark, docs, base + "/lm")
    def tombstoned(p: String, idCol: String): Seq[Long] =
      if (!Stores.hasTombstones(spark, p)) Nil
      else spark.read.parquet(Stores.tombstonePath(p)).select(idCol).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
    // a plain file where the IVF store's tombstone directory goes: its
    // retraction cannot land, every other store's can
    val blocker = java.nio.file.Paths.get(base, "ivf", "_tombstones")
    Files.write(blocker, Array[Byte](1))
    intercept[Exception](Pipeline.forgetDocs(spark, stores, gone))
    assert(tombstoned(base + "/sig", "doc_id") === ids, "the signature retraction completed")
    assert(SearchProbe.scores(spark, base + "/postings") ===
      Search.bm25(surv.select("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq,
      "the posting retraction completed")
    assert(TextOps.lmScoreStored(spark, surv, base + "/lm").collect().toSeq ===
      TextOps.lmScore(surv).collect().toSeq, "the LM retraction completed")
    // mend the store and re-run the same call under a job group
    Files.delete(blocker)
    val (group, jobs) = JobProbe.jobsOf(spark)(Pipeline.forgetDocs(spark, stores, gone))
    assert(jobs.nonEmpty && jobs.forall { case (g, tags) =>
      g == group && tags != null && tags.split(",").contains(group) },
      s"every job must carry the caller's group and tag: $jobs")
    assert(tombstoned(base + "/ivf", "vec_id") === ids,
      "the re-run must retract the mended store")
    assert(Stores.minusTombstones(spark, base + "/ivf", "vec_id",
        spark.read.parquet(base + "/ivf"))
      .filter(col("vec_id").isin(ids: _*)).count() === 0L)
  }
}
