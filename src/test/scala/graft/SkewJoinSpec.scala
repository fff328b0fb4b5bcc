package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin
import graft.sources.Tables

/** Salted join correctness: identical results to the plain join, and the
  * salt actually spreads a hot key across sub-keys. */
class SkewJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join equals plain join on a skewed workload") {
    val orders = Tables.orders(spark, TestSpark.sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // make the workload skewed: collapse most keys onto one hot customer
    val skewed = orders.withColumn("o_custkey",
      when(pmod(col("o_custkey"), lit(4L)) =!= 0, lit(1L)).otherwise(col("o_custkey")))
    val dim = Tables.customer(spark, TestSpark.sfDir).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")

    val plain = skewed.join(dim, Seq("o_custkey")).orderBy("o_orderkey")
      .collect().toSeq
    val salted = SkewJoin.saltedJoin(skewed, dim, "o_custkey",
        identityCols = Seq("o_orderkey"), saltFactor = 8)
      .orderBy("o_orderkey").collect().toSeq
    assert(salted === plain)
  }

  test("salted join rejects right/full outer (per-replica duplication)") {
    val df = Tables.orders(spark, TestSpark.sfDir).select("o_orderkey", "o_custkey")
    val dim = Tables.customer(spark, TestSpark.sfDir)
      .select(col("c_custkey").as("o_custkey"))
    Seq("right_outer", "full_outer", "full").foreach { jt =>
      val e = intercept[IllegalArgumentException] {
        SkewJoin.saltedJoin(df, dim, "o_custkey", Seq("o_orderkey"), 4, jt)
      }
      assert(e.getMessage.contains("does not support"))
    }
  }

  test("planted 200x-median hot key: salted join is exact AND bounded per partition") {
    // The stress proof behind the salting claim: a key holding half the
    // table (200x the median key's rows) must join correctly AND stop
    // dominating a single reducer. Partition loads are MEASURED on the
    // exact shuffle layout the join uses, not asserted in prose.
    val n = 40000L
    val saltF = 16
    val hotRows = n / 2 // ids ≡ 0 mod 2 collapse onto key 7
    val large = spark.range(n).select(col("id").as("row_id"),
      when(pmod(col("id"), lit(2L)) === 0, lit(7L))
        .otherwise(pmod(col("id"), lit(400L))).as("k"))
    // 200 cold keys x ~100 rows (median 100) vs 20,000 on the hot key
    val small = spark.range(400).select(col("id").as("k"), (col("id") * 10).as("v"))
    val plain = large.join(small, Seq("k"))
      .orderBy("row_id").collect().toSeq
    val salted = SkewJoin.saltedJoin(large, small, "k", Seq("row_id"), saltF)
      .select("k", "row_id", "v").orderBy("row_id").collect().toSeq
    assert(salted === plain, "salting must not change the join result")
    // replay the large side's shuffle under both layouts and measure the
    // heaviest partition
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame,
        keys: org.apache.spark.sql.Column*): Long =
      df.repartition(32, keys: _*).rdd
        .mapPartitions(it => Iterator(it.size.toLong)).collect().max
    val unsaltedMax = maxPartitionRows(large, col("k"))
    val saltedMax = maxPartitionRows(
      large.withColumn("__salt", SkewJoin.saltColumn(Seq("row_id"), saltF)),
      col("k"), col("__salt"))
    assert(unsaltedMax >= hotRows,
      s"without salt one partition must swallow the whole hot key ($unsaltedMax < $hotRows)")
    assert(saltedMax <= unsaltedMax / 4,
      s"salting must shrink the heaviest partition ($saltedMax vs $unsaltedMax)")
    // and no single (key, salt) reducer group keeps more than ~2x the
    // ideal hotRows/saltF share (xxhash64 spreads row identities evenly)
    val maxGroup = large
      .withColumn("__salt", SkewJoin.saltColumn(Seq("row_id"), saltF))
      .groupBy("k", "__salt").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxGroup <= 2 * hotRows / saltF,
      s"per-(key,salt) group must be bounded, got $maxGroup for ideal ${hotRows / saltF}")
  }

  test("star join's skew edge: planted hot custkey takes the AQE skew-split path") {
    // The q_star_join guard (CoreOps.qStarJoin): its skew-prone edges are
    // the fact-side equi-joins (orders⋈customer on custkey — the dims are
    // explicit broadcasts and never skew). At 100 TB a hot customer lands
    // every one of its rows on ONE reducer unless AQE's skew handling
    // splits the partition — this test proves that path actually engages
    // on this engine's session config, rather than asserting it in prose.
    // saltedJoin (above) stays the guard for the key-itself-skewed case.
    val s = spark
    val tuned = Map(
      // force a shuffle join: broadcast would hide the skew entirely
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // sf0.001-sized skew thresholds (defaults target 256 MB partitions)
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB")
    val saved = tuned.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      tuned.foreach { case (k, v) => s.conf.set(k, v) }
      // 16x the 1.5k-row sf0.001 orders (deterministic row ids kept
      // unique) so the hot partition clears the lowered byte threshold,
      // and repartition onto 8 mappers: AQE splits a skewed partition by
      // MAP-OUTPUT ranges, and sf0.001's single parquet file would feed
      // the exchange from ONE mapper — unsplittable purely as a local
      // test artifact, while the 100 TB fact side has thousands of maps.
      val skewed = Tables.orders(s, TestSpark.sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("rep", explode(sequence(lit(0L), lit(15L))))
        .withColumn("o_orderkey", col("o_orderkey") * 16 + col("rep"))
        .drop("rep")
        .withColumn("o_custkey",
          when(pmod(col("o_custkey"), lit(4L)) =!= 0, lit(1L))
            .otherwise(col("o_custkey")))
        .repartition(8, col("o_orderkey"))
      val dim = Tables.customer(s, TestSpark.sfDir)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val joined = skewed.join(dim, Seq("o_custkey"))
      // execute THIS df (count() would plan a separate query) so its
      // adaptive plan is final before we inspect it
      val got = joined.collect().length.toLong
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"planted hot custkey must trigger AQE skew-split, plan was:\n$plan")
      // and splitting must not change the join result
      saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      val want = skewed.join(dim, Seq("o_custkey")).count()
      assert(got == want, "the skew-split join must return the plain join's rows")
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  test("bloom semi join: answer equals the plain semi join; pre-filter drops rows map-side") {
    import graft.operators.BloomJoin
    val s = TestSpark.spark
    val orders = Tables.orders(s, TestSpark.sfDir)
    val premium = Tables.customer(s, TestSpark.sfDir)
      .filter(col("c_acctbal") > 9000).select("c_custkey")
    val plain = orders.join(premium, col("o_custkey") === col("c_custkey"), "left_semi")
    val viaBloom = BloomJoin.bloomSemiJoin(orders, premium, "o_custkey", "c_custkey")
    // exactness: the Bloom pre-filter must be answer-invisible
    assert(viaBloom.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(viaBloom).count() === 0)
    // the pre-filter predicate sits on the fact side BEFORE the join (the
    // whole point: only candidates reach the exchange) as the native
    // expression
    val p = viaBloom.queryExecution.executedPlan.toString
    assert(p.contains("graft_bloom_contains"),
      s"the bloom predicate must appear in the physical plan:\n$p")
    // ...and it genuinely shrinks the fact stream: the premium-customer
    // selectivity is far below 1, so candidates << orders
    val candidates = orders.filter(graft.operators.Dedup.bloomContainsCol(
      col("o_custkey").cast("string"),
      graft.operators.Dedup.bloomOfBuckets(
        premium.select(col("c_custkey").cast("string").as("bucket"))))).count()
    assert(candidates < orders.count() / 2,
      s"pre-filter kept $candidates of ${orders.count()} fact rows — no shuffle reduction")
    // no false negatives: every true match survives the pre-filter
    assert(candidates >= plain.count())
  }

  test("bloom semi join API guards: type mismatch refused; same-name and null dim keys handled") {
    import graft.operators.BloomJoin
    val s = TestSpark.spark
    import s.implicits._
    val fact = Seq((1L, "x"), (2L, "y"), (5L, "z")).toDF("k", "payload")
    // same key name on both sides (the stored-index round-trip case) plus
    // a null dim key: must resolve unambiguously, drop the null, and
    // match the plain join
    val dimSame = Seq(Option(1L), Option(5L), Option.empty[Long]).toDF("k")
    val got = BloomJoin.bloomSemiJoin(fact, dimSame, "k", "k")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 5L))
    // a coercible-but-different key type would false-negative in the
    // string-form filter (5 vs 5.0) — refused loudly instead
    val dimDouble = Seq(1.0, 5.0).toDF("kd")
    val e = intercept[IllegalArgumentException](
      BloomJoin.bloomSemiJoin(fact, dimDouble, "k", "kd"))
    assert(e.getMessage.contains("identical types"))
  }
}
