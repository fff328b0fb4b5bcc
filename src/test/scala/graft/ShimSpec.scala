package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.{BloomJoin, Dedup, Search, Similarity, TextOps}

/** The operators reach their native kernels through the
  * `org.apache.spark.sql.graftshim.Native` shim, not through the
  * `graft_*` SQL names `GraftExtensions` registers. This spec runs one
  * query per kernel family in a session whose registry holds none of
  * those names and checks that (a) each returns the extension session's
  * rows and (b) each executed plan carries its `graft.functions`
  * expression classes. It pins the shim's reach into Spark's
  * `private[sql]` column conversions across Spark upgrades. */
class ShimSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with Eventually {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def kernelsIn(plan: SparkPlan): Set[String] =
    collectWithSubqueries(plan) { case p => p }
      .flatMap(_.expressions.flatMap(kernelExprs)).toSet

  private def kernelExprs(e: Expression): Seq[String] = e.collect {
    case k if k.getClass.getName.startsWith("graft.functions.") => k.getClass.getSimpleName
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** (query, expected kernel classes in its executed plan). */
  private val families: Seq[(String, (SparkSession, String) => DataFrame, Set[String])] = Seq(
    ("ann top-k aggregate", Similarity.qAnnTopkAgg, Set("DotProduct", "TopKByScore")),
    ("ivf + pq top-k", Similarity.qIvfPq,
      Set("IvfScores", "PqEncode", "PqLut", "PqAdc", "TopKByScore")),
    ("minhash dedup", Dedup.qDedupMinhash, Set("NormTextExpr", "MinHashSigDoc")),
    ("simhash dedup", Dedup.qDedupSimhash, Set("NormTextExpr", "SimHashDoc")),
    ("gram-set dedup", Dedup.qDedupNgram, Set("NormTextExpr", "GramSet")),
    ("bloom pre-gate", Dedup.qDedupBloom, Set("BloomMightContain")),
    ("bloom semi join", BloomJoin.qBloomJoin, Set("BloomMightContain")),
    ("repetition", TextOps.qRepetition, Set("NormTextExpr", "TopWordCount", "BigramArray")),
    ("bpe tokens", TextOps.qTokenBpe, Set("NormTextExpr", "BpeEncode")),
    ("heavy hitters", TextOps.qHeavyHitters, Set("NormTextExpr", "MgFrequentItems")),
    ("compress ratio", TextOps.qCompressRatio, Set("DeflateLen")),
    ("bm25", Search.qBm25, Set("NormTextExpr")))

  test("every kernel runs through the shim in a session without the graft_* SQL names") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    registry.listFunction().filter(_.funcName.startsWith("graft_"))
      .foreach(f => registry.dropFunction(f))
    assert(!bare.catalog.functionExists("graft_dot") && !bare.catalog.functionExists("graft_mg"))
    assert(spark.catalog.functionExists("graft_dot"), "the shared session keeps its names")
    // every execution in the bare session, side jobs included (the Bloom
    // sidecar build runs its aggregate outside the query's own plan)
    val seen = ConcurrentHashMap.newKeySet[String]()
    bare.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        kernelsIn(qe.executedPlan).foreach(seen.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    SparkSession.setActiveSession(bare)
    try {
      families.foreach { case (name, query, kernels) =>
        val df = query(bare, dir)
        val got = rows(df)
        assert(got.nonEmpty, s"$name: the query must return rows")
        SparkSession.setActiveSession(spark)
        val want = rows(query(spark, dir))
        SparkSession.setActiveSession(bare)
        assert(got === want, s"$name: the bare session must return the extension session's rows")
        val inPlan = kernelsIn(df.queryExecution.executedPlan)
        assert(kernels.subsetOf(inPlan),
          s"$name: executed plan must carry ${kernels.mkString(", ")}, found ${inPlan.mkString(", ")}")
      }
      // a fresh filter build: the Bloom aggregate itself, off the query plan
      val keys = bare.range(0, 500).selectExpr("cast(id as string) as k")
      val bytes = new graft.sources.BloomSidecar("_shim.bin", 1 << 12, 3).buildOf(keys)
      SparkSession.setActiveSession(spark)
      val keysExt = spark.range(0, 500).selectExpr("cast(id as string) as k")
      assert(java.util.Arrays.equals(bytes,
        new graft.sources.BloomSidecar("_shim.bin", 1 << 12, 3).buildOf(keysExt)))
    } finally SparkSession.setActiveSession(spark)
    eventually(timeout(Span(30, Seconds))) {
      assert((families.flatMap(_._3).toSet + "BloomAgg").subsetOf(seen.asScala.toSet),
        s"kernels executed in the bare session: ${seen.asScala.toSeq.sorted.mkString(", ")}")
    }
  }
}
