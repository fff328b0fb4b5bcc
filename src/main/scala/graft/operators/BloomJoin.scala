package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Runtime-filtered (Bloom) semi join — the classic shuffle-reduction
  * technique for "big fact ⋈ selective dim" at 100 TB: build a Bloom
  * filter over the dim keys (one partial aggregate; map tasks carry bit
  * arrays, never the key stream — `graft_bloom`, Dedup's kernel), ship
  * the single filter as a literal into a map-side predicate on the fact,
  * and only the candidate fraction of fact rows ever reaches the join
  * exchange. False positives pass the pre-filter and are eliminated by
  * the exact semi join that follows; false negatives cannot exist
  * (SketchSpec pins GBloom's no-false-negative property), so the result
  * is EXACTLY the plain semi join with the shuffle shrunk by the dim's
  * selectivity.
  *
  * Spark's optimizer has a built-in version of this
  * (`spark.sql.optimizer.runtime.bloomFilter.*`, injected during AQE for
  * equi-joins whose creation-side stats qualify); this face makes the
  * technique explicit and deterministic — it applies regardless of stats
  * thresholds, works from any precomputed key frame (e.g. a stored
  * index's key set).
  */
object BloomJoin {

  /** Exact left-semi join of `fact` against `dim`'s keys with a Bloom
    * pre-filter on the fact side. Keys probe the filter as their string
    * forms (the GBloom codec's domain), which is only no-false-negative
    * when both sides render identically — so the key types must MATCH
    * exactly (enforced; a LongType fact key against a DoubleType dim key
    * would join under numeric coercion in the plain join but render "5"
    * vs "5.0" in the filter and silently drop rows). Null dim keys are
    * dropped before the build: they never match a semi join. The join condition
    * uses frame-qualified references so factKey == dimKey (the common
    * stored-index round-trip) resolves unambiguously. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String): DataFrame = {
    val ft = fact.schema(factKey).dataType
    val dt = dim.schema(dimKey).dataType
    require(ft == dt,
      s"bloomSemiJoin keys must have identical types (the string-form Bloom probe " +
        s"cannot see numeric coercion): $factKey is ${ft.sql}, $dimKey is ${dt.sql}")
    val dimKeys = dim.select(col(dimKey)).filter(col(dimKey).isNotNull)
    val bytes = Dedup.bloomOfBuckets(
      dimKeys.select(col(dimKey).cast("string").as("bucket")))
    // The filter is sized for Dedup's stored-bucket cardinality
    // (BloomBits, ~7 bits/key at ~150k keys). A dim far above that
    // saturates the bit array and the false-positive rate climbs toward
    // 1 — still CORRECT (the exact semi join downstream removes every
    // false positive) but the pre-filter silently stops shrinking the
    // fact exchange, defeating its stated purpose. The expected FP rate
    // is free to compute from the built filter itself (p = (set/m)^k),
    // so warn loudly when the pre-filter has degraded to a near-no-op
    // instead of letting the regression hide in plan timings.
    locally {
      val (k, bits) = graft.functions.GBloom.decode(bytes)
      val m = bits.length * 64L
      val set = bits.map(w => java.lang.Long.bitCount(w).toLong).sum
      val fp = math.pow(set.toDouble / m, k.toDouble)
      if (fp > 0.25)
        System.err.println(
          f"[bloomSemiJoin] WARNING: filter saturation ${set.toDouble / m}%.2f " +
            f"=> expected false-positive rate $fp%.2f — the dim key count far " +
            "exceeds the filter's design cardinality; the pre-filter passes " +
            "most fact rows. Result stays exact; resize BloomBits for this dim.")
    }
    val candidates = fact
      .filter(Dedup.bloomContainsCol(col(factKey).cast("string"), bytes))
    candidates.join(dimKeys,
      candidates(factKey) === dimKeys(dimKey), "left_semi")
  }

  /** Orders of premium customers (acctbal-selective dim subset), rolled
    * up per status — the oracle replays the PLAIN semi join, so the
    * query is green only if the Bloom pre-filter is answer-invisible. */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val premium = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 9000).select("c_custkey")
    bloomSemiJoin(Tables.orders(s, dir), premium, "o_custkey", "c_custkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("o_orderstatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bloom_join" -> qBloomJoin _)

  val oracles: Map[String, String] = Map(
    "q_bloom_join" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS revenue
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
}
