package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps
import graft.sources.Stores

/** The [[graft.sources.CountStore]] discipline, written once and run on
  * each stored count model: [[LmCountStoreSpec]], [[NbCountStoreSpec]]
  * and [[DsirCountStoreSpec]]. Only the cases the model specs
  * (TextOpsSpec, DsirSpec) do not already cover for every model live
  * here; those specs pin each model's retraction to a retrain on the
  * survivors, so the scores right after a retraction are the ground
  * truth a compaction must keep. */
trait CountStoreBehaviors extends AnyFunSuite {

  protected lazy val spark = TestSpark.spark

  def write(docs: DataFrame, path: String): Unit
  def append(docs: DataFrame, path: String, batchId: Long): Unit
  def retract(path: String, docs: DataFrame): Unit
  def compact(path: String, foldBelow: Long): Unit
  def score(docs: DataFrame, path: String): DataFrame

  /** Non-empty docs from which the model derives no rows. */
  def underived: DataFrame

  private def docs: DataFrame = graft.sources.Tables.documents(spark, TestSpark.sfDir)

  private def tmpPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-countstore-$tag").toString + "/model"

  private def scoresOf(docs: DataFrame, path: String): Seq[Row] =
    score(docs, path).collect().toSeq

  test("a fold below a replay-protected batch carries the corrections; the final fold absorbs them") {
    val boot = docs.filter(col("doc_id") % 3 === 0)
    val late = docs.filter(col("doc_id") % 3 === 1)
    val gone = boot.filter(col("doc_id") % 5 === 0)
    val kept = boot.filter(col("doc_id") % 5 =!= 0).unionByName(late)
    val path = tmpPath("fold")
    write(boot, path)
    append(late, path, 5L)
    retract(path, gone)
    val want = scoresOf(kept, path)
    // batch 5 is at or above the watermark: a replay could re-insert the
    // retracted docs' counts, so the sidecar must ride through the swap
    compact(path, 3L)
    assert(Stores.hasTombstones(spark, path),
      "a fold that leaves a replay-protected batch must keep the sidecar")
    assert(scoresOf(kept, path) === want, "the partial fold must not move a score")
    compact(path, 6L)
    assert(!Stores.hasTombstones(spark, path), "the final fold must clear the sidecar")
    assert(scoresOf(kept, path) === want, "absorbing the corrections must not move a score")
    val batches = spark.read.parquet(path).select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(batches === Set(-1L), s"every batch must fold into the bootstrap, got $batches")
    val goneIds = gone.select("doc_id").collect().map(_.getLong(0)).toSet
    val members = spark.read.parquet(path + "/_docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(goneIds.nonEmpty && (members & goneIds).isEmpty,
      "the final fold must drop the retracted docs from the membership")
  }

  test("an empty retraction refuses; docs that derive no rows retract as a no-op") {
    val path = tmpPath("empty")
    write(docs, path)
    val e = intercept[IllegalArgumentException](retract(path, docs.limit(0)))
    assert(e.getMessage.contains("empty retraction set"), e.getMessage)
    retract(path, underived)
    assert(!Stores.hasTombstones(spark, path), "a no-op retraction must land no correction")
  }
}

class LmCountStoreSpec extends CountStoreBehaviors {
  def write(docs: DataFrame, path: String): Unit = TextOps.writeLmModel(spark, docs, path)
  def append(docs: DataFrame, path: String, batchId: Long): Unit =
    TextOps.appendLmBatch(spark, docs, path, batchId)
  def retract(path: String, docs: DataFrame): Unit = TextOps.retractLmDocs(spark, path, docs)
  def compact(path: String, foldBelow: Long): Unit = TextOps.compactLmModel(spark, path, foldBelow)
  def score(docs: DataFrame, path: String): DataFrame = TextOps.lmScoreStored(spark, docs, path)
  // a NULL text has no words and no bigrams
  def underived: DataFrame = {
    import spark.implicits._
    Seq((9001L, Option.empty[String])).toDF("doc_id", "text")
  }
}

class NbCountStoreSpec extends CountStoreBehaviors {
  def write(docs: DataFrame, path: String): Unit = TextOps.writeNbModel(spark, docs, path)
  def append(docs: DataFrame, path: String, batchId: Long): Unit =
    TextOps.appendNbBatch(spark, docs, path, batchId)
  def retract(path: String, docs: DataFrame): Unit = TextOps.retractNbDocs(spark, path, docs)
  def compact(path: String, foldBelow: Long): Unit = TextOps.compactNbModel(spark, path, foldBelow)
  def score(docs: DataFrame, path: String): DataFrame =
    TextOps.qualityClassifierStored(spark, docs, path)
  // single-word docs are outside the classifier's domain
  def underived: DataFrame = {
    import spark.implicits._
    Seq((9001L, "solo"), (9002L, "word")).toDF("doc_id", "text")
  }
}

class DsirCountStoreSpec extends CountStoreBehaviors {
  private val en = col("lang") === "en"
  def write(docs: DataFrame, path: String): Unit = TextOps.writeDsirModel(spark, docs, en, path)
  def append(docs: DataFrame, path: String, batchId: Long): Unit =
    TextOps.appendDsirBatch(spark, docs, en, path, batchId)
  def retract(path: String, docs: DataFrame): Unit = TextOps.retractDsirDocs(spark, path, docs, en)
  def compact(path: String, foldBelow: Long): Unit = TextOps.compactDsirModel(spark, path, foldBelow)
  def score(docs: DataFrame, path: String): DataFrame = TextOps.dsirScoreStored(spark, docs, path)
  // single-word docs have no bigram, so no feature in either frame
  def underived: DataFrame = {
    import spark.implicits._
    Seq((9001L, "en", "solo"), (9002L, "de", "wort")).toDF("doc_id", "lang", "text")
  }
}
