package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executable plan audit: the physical-plan properties the 100 TB design
  * depends on, asserted so a refactor can't silently regress them
  * (complementing the numeric bench).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  // unwrap AQE wrappers (and materialized query stages) to reach scans
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(allScans)
  }

  test("q_scan_project: filter pushed to the scan, projection pruned") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,R)"),
      "equality predicate must reach the parquet scan")
    assert(!p.contains("l_extendedprice"),
      "columns outside the projection must not be read")
  }

  test("q_join_lookup: dimension side broadcasts (no fact-side shuffle)") {
    val p = plan("q_join_lookup")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q_range_join: banded interval join never plans a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "the band equi-key must keep this a hash join")
  }

  test("q_interval_join: band cover keeps the overlap an equi-join") {
    val p = plan("q_interval_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"the band key must keep the interval overlap a hash join:\n$p")
  }

  test("q_asof_purchase: one window pass, no join of any kind") {
    val p = plan("q_asof_purchase")
    assert(p.contains("Window"), "as-of carries values via a window")
    assert(!p.contains("Join"), "the union+window formulation must not join")
  }

  test("dedup banded joins stay equi-joins") {
    Seq("q_dedup_minhash", "q_dedup_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"$q must pair only within band buckets via equi-join")
    }
  }

  test("scan-shaped operators shuffle only for the harness sort") {
    // chunking, quantization and the text scores must stream through the
    // scan: the single allowed Exchange is the deterministic orderBy the
    // differential harness needs (production use drops it).
    Seq("q_text_chunks", "q_embed_quant", "q_text_quality", "q_token_count").foreach { q =>
      val p = plan(q)
      val exchanges = "\\bExchange\\b".r.findAllIn(p).length
      assert(exchanges <= 1, s"$q plans $exchanges exchanges (want ≤1, the sort):\n$p")
    }
  }

  test("q_scd2: one hash shuffle serves all three windows") {
    // lag (change detection), lead (valid_to) and row_number (version)
    // all run over the same (user_id → ts, event_id) ordering, and the
    // filter between them preserves partitioning — the plan must carry
    // exactly ONE hash exchange (the second Exchange is the harness
    // sort's range partitioning).
    val p = plan("q_scd2")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"q_scd2 plans $hashEx hash exchanges (want 1):\n$p")
    assert(p.contains("Window"), "the SCD2 build is window passes, not joins")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q_seq_pack: the packing rollup reuses the window's shard exchange") {
    // the running-offset window partitions by shard, and the (shard,
    // seq_id) rollup is satisfied by that same partitioning (same-shard
    // rows are co-located) — exactly ONE hash exchange; the second
    // Exchange is the harness sort's range partitioning. At 100 TB the
    // shard count is the parallelism knob and nothing orders globally.
    val p = plan("q_seq_pack")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"q_seq_pack plans $hashEx hash exchanges (want 1):\n$p")
    assert(p.contains("Window"), "the running offset is a window pass")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q_unpivot: a generate/expand projection, no hash shuffle") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand") || p.contains("Generate"),
      s"unpivot must plan as a per-row fan-out projection:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"wide→long reshaping must not shuffle (only the harness sort may):\n$p")
  }

  test("q_corr_stats: all pair moments come from ONE scan") {
    // corrMatrix collects the single all-pairs moment row (one row of
    // control-plane metadata) and derives the pair rows locally — the
    // returned frame must be a local relation with NO file scan (a lazy
    // union-of-selects gets pruned into |pairs| separate scans, the
    // shape this construction exists to forbid)
    val df = SparkEntry.queries("q_corr_stats")(spark, TestSpark.sfDir)
    assert(allScans(df.queryExecution.executedPlan).isEmpty,
      s"the pair rows must derive from the one collected moment row:\n${df.queryExecution.executedPlan}")
    assert(df.collect().length === 3)
  }

  test("q_quality_classifier: class counts combine map-side; no cartesian pairing") {
    val p = plan("q_quality_classifier")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the gram-keyed class counts must partial-aggregate before their exchange:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only 1-row broadcast stat frames may cross-join:\n$p")
  }

  test("q_dedup_bloom: the membership probe filters map-side, under the gate join") {
    val df = SparkEntry.queries("q_dedup_bloom")(spark, TestSpark.sfDir)
    val p = df.queryExecution.executedPlan
    val s = p.toString
    assert(s.contains("graft_bloom_contains"),
      s"the Bloom probe must be a native filter in the plan:\n$s")
    // the probe must sit in a Filter BELOW the join (map-side on the
    // incoming scan), never above it — above the join it would filter
    // nothing out of the shuffle, which is the entire point
    def joinsAbove(node: org.apache.spark.sql.execution.SparkPlan, inJoin: Boolean): Boolean =
      node match {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("graft_bloom_contains") => inJoin
        case j if j.nodeName.contains("Join") =>
          j.children.exists(c => joinsAbove(c, inJoin = true))
        case other => other.children.exists(c => joinsAbove(c, inJoin))
      }
    assert(joinsAbove(p, inJoin = false) ||
      // AQE may hide the join under query stages; unwrap via string check:
      // the filter text must appear after the join in the tree rendering.
      // The contains guard keeps indexOf(-1) from passing this vacuously.
      (s.contains("Join") && s.indexOf("graft_bloom_contains") > s.indexOf("Join")),
      s"the Bloom filter must apply below the gate join:\n$s")
  }

  test("q_star_join: tiny dims broadcast, never a cartesian product") {
    val p = plan("q_star_join")
    assert(p.contains("BroadcastHashJoin"), "nation/region must ride the broadcast path")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all joins must be equi-joins:\n$p")
    // the order-year range must reach the orders scan as pushed filters —
    // at 100 TB this is the difference between reading one year and seven
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(p).nonEmpty &&
      "PushedFilters: \\[[^\\]]*LessThan\\(o_orderdate".r.findFirstIn(p).nonEmpty,
      s"orders date range must be pushed to the scan:\n$p")
  }

  test("dedup self-joins reuse the banded fingerprint exchange (one corpus scan)") {
    // The repartition on the band keys makes both join sides canonicalize
    // to the same exchange; AQE's stage reuse then computes the signature
    // pipeline ONCE. Static explain can't see this — assert on the final
    // adaptive plan after execution.
    Seq("q_dedup_simhash", "q_dedup_minhash", "q_embed_neardup").foreach { q =>
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("isFinalPlan=true"), s"$q must have an executed adaptive plan")
      assert("Reused".r.findFirstIn(s).nonEmpty,
        s"$q final plan must reuse the banded exchange:\n$s")
    }
  }

  test("q_decontaminate: benchmark grams broadcast; the corpus never shuffles to meet them") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark gram set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the training corpus must not shuffle into the overlap join")
    // only doc_id+text leave the documents scans (lang/source/n_chars pruned)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>") && !p.contains("n_chars"),
      "columns outside (doc_id, text) must not be read")
  }

  test("q_dedup_semantic: pair join runs per (list, block-pair) cell, never all-pairs") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    def joins(pl: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffledHashJoinExec] = pl match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => joins(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => joins(q.plan)
      case j: ShuffledHashJoinExec => Seq(j) ++ j.children.flatMap(joins)
      case other => other.children.flatMap(joins)
    }
    val df = SparkEntry.queries("q_dedup_semantic")(spark, TestSpark.sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"semantic dedup must never plan an all-pairs join:\n$p")
    // the pair join's keys carry the block-pair columns: its exchange has
    // k·B(B+1)/2 distinct keys, so parallelism scales past the cluster
    // count (the q_token_shards lesson, applied at design time)
    val pair = joins(df.queryExecution.executedPlan)
    assert(pair.nonEmpty, s"expected the hinted shuffle-hash pair join:\n$p")
    val keys = pair.head.leftKeys.map(_.toString.replaceAll("#\\d+L?", ""))
    assert(keys.exists(_.contains("list_id")) && keys.exists(_.contains("b_lo")) &&
      keys.exists(_.contains("b_hi")),
      s"pair join must key on (list_id, b_lo, b_hi), got: $keys")
  }

  test("q_token_shards: doc rows never flow through a single-language window") {
    // the two-level packer's contract: parallelism ∝ corpus size. Any
    // window partitioned on fewer than two keys must sit above the
    // block-total AGGREGATE (metadata rows), never the document scan —
    // a single-key window over doc rows is one task per language.
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("q_token_shards")(spark, TestSpark.sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: logical.Window => w }
    assert(wins.exists(_.partitionSpec.length >= 2),
      "the doc-level running sum must partition on (lang, block)")
    wins.filter(_.partitionSpec.length < 2).foreach { w =>
      assert(w.child.collectFirst { case a: logical.Aggregate => a }.nonEmpty,
        s"single-key window must only see block-level aggregates:\n$w")
    }
    // shuffle budget, on the executed plan: the ONE doc-level exchange is
    // reused by the block-total aggregate (ReusedExchange), leaving the
    // block-metadata window's tiny shuffle, the final stats aggregate,
    // and the harness sort
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("ReusedExchange"),
      s"the block-total aggregate must reuse the doc-level window exchange:\n$p")
    // count executed Exchange NODES (tree connectors), not the Initial
    // Plan section or ReusedExchange's referent text
    val exchanges = "[+:]- Exchange ".r.findAllIn(finalPlan).length
    assert(exchanges <= 4, s"q_token_shards runs $exchanges exchanges (want ≤4):\n$p")
  }

  test("q_data_mixture: corpus stats ride broadcasts, never a shuffle join") {
    // the per-lang stats and 1-row totals are dimension-sized broadcast
    // frames; a sort-merge or shuffled-hash join here would re-shuffle
    // the corpus just to attach a handful of rates
    val p = plan("q_data_mixture")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"mixture joins must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), "the rates join must broadcast")
  }

  test("dedup gate: stored-signature scan prunes to the incoming batch's shards") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-sig").toString + "/store"
    val sig = Dedup.signatures(spark, TestSpark.sfDir)
    Dedup.writeSignatures(sig.filter(pmod(col("doc_id"), lit(10L)) =!= 0), path)
    // a single-document incoming batch: its shard set is a strict subset
    // of the store's 16 shards, so the gate's corpus read must prune
    val oneId = sig.filter(pmod(col("doc_id"), lit(10L)) === 0)
      .orderBy("doc_id").select("doc_id").limit(1).collect()(0).getLong(0)
    val incoming = sig.filter(col("doc_id") === oneId)
    val gated = Dedup.gateAgainstStored(spark, path, incoming)
    val scans = allScans(gated.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("store")))
    assert(scans.nonEmpty, "the gate must read the signature store via a file scan")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"gate's store read must carry partition filters:\n${gated.queryExecution.executedPlan}")
    val storeShards = spark.read.parquet(path).select("shard").distinct().count()
    assert(scans.forall(_.selectedPartitions.partitionCount < storeShards),
      "the 1-doc gate must read strictly fewer shard directories than the store holds")
    // pruning must not change results: per-doc gate rows are independent,
    // so the pruned 1-doc gate equals the full in-query gate's row
    val got = gated.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val expected = Dedup.qDedupIncremental(spark, TestSpark.sfDir)
      .filter(col("doc_id") === oneId).collect()
      .toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got === expected)
    // pristine bootstrap-only store: the gate must skip the re-cap window
    // (the store was capped at write time; the shuffle would be a no-op).
    // The ONE window in the plan is the incoming side's own capping
    // window — the store side must not add a second.
    // count logical Window nodes (the executed-plan string would double
    // count: AQE prints matching Final and Initial sections)
    def windows(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.length
    assert(windows(gated) === 1,
      "gate over an un-appended store must not pay the store-side re-cap window")
    // ...and the first append must bring the re-cap back
    Dedup.appendSignaturesBatch(spark, incoming, path, 1L)
    val appended = Dedup.gateAgainstStored(spark, path, incoming)
    assert(windows(appended) === 2,
      "gate over an appended store must re-cap the store side per bucket")
  }

  test("q_ann_probe: the stored-index scan carries partition filters") {
    // the registered query's own corpus read must prune on bucket, not
    // just the low-level probeAnnIndex helper the next test exercises
    val df = SparkEntry.queries("q_ann_probe")(spark, TestSpark.sfDir)
    val scans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft-annidx")))
    assert(scans.nonEmpty, "q_ann_probe must read the stored index")
    assert(scans.exists(_.partitionFilters.nonEmpty),
      s"the probe-side index scan must prune buckets:\n${df.queryExecution.executedPlan}")
  }

  test("q_ivf_probe: the stored-index corpus scan prunes to the probed list dirs") {
    import graft.operators.Similarity
    // the registered query's own corpus read must carry the list_id isin
    // as PARTITION filters and select at most IvfProbes of IvfLists dirs —
    // the nProbe/k read fraction the stored-IVF design exists to deliver.
    // (The query-slice read over the same index is unpruned by design:
    // queries are the control-plane slice.)
    val df = SparkEntry.queries("q_ivf_probe")(spark, TestSpark.sfDir)
    val scans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft-ivfidx")))
    assert(scans.nonEmpty, "q_ivf_probe must read the stored IVF index")
    val pruned = scans.filter(_.partitionFilters.nonEmpty)
    assert(pruned.nonEmpty,
      s"the probe-side corpus scan must prune list dirs:\n${df.queryExecution.executedPlan}")
    // the pruned scan selects EXACTLY the union of the queries' probed
    // lists (bootstrap store: one batch dir per list) — no more
    val storePath = scans.head.relation.location.rootPaths.head.toString
    val probedLists = Similarity.storedProbedLists(
      Similarity.storedProbeQueries(spark, storePath))
    assert(pruned.exists(_.selectedPartitions.partitionCount <= probedLists.size),
      s"scan must select at most the ${probedLists.size} probed list dirs")
    // ...and a single query's probe reads nProbe/k of the directories —
    // the read-fraction claim the stored-IVF layout exists to deliver
    val one = Similarity.probeIvfIndex(spark, storePath, probedLists.take(2))
    val oneScans = allScans(one.queryExecution.executedPlan)
    assert(oneScans.nonEmpty && oneScans.forall(_.partitionFilters.nonEmpty))
    assert(oneScans.forall(_.selectedPartitions.partitionCount <= 2),
      "a 2-list probe must read at most 2 list directories")
    assert(one.count() < spark.read.parquet(storePath).count(),
      "the probed slice must be a strict subset of the corpus")
  }

  test("TPC-H analogues: pushed filters, sane join strategies, heap top-k") {
    // Q3: both date filters and the segment filter reach their scans;
    // the sorted LIMIT is a TakeOrderedAndProject heap, never a global
    // sort exchange; no join degenerates to a cartesian.
    Seq("q_tpch_q3", "q_tpch_q10", "q_tpch_q18").foreach { q =>
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      df.collect() // finalize the adaptive plan
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q must keep every join keyed:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"$q's sorted LIMIT must be a heap top-k:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q must broadcast its bounded dimension side:\n$p")
    }
    val q3scans = allScans(SparkEntry.queries("q_tpch_q3")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan)
    assert(q3scans.exists(_.metadata.getOrElse("PushedFilters", "")
        .contains("c_mktsegment")),
      "Q3's segment filter must reach the customer scan")
    assert(q3scans.exists(_.metadata.getOrElse("PushedFilters", "")
        .contains("l_shipdate")),
      "Q3's ship-date filter must reach the lineitem scan")
    // Q18's big-order aggregate must map-side combine (partial_sum below
    // the exchange), not ship every lineitem row to the reducers
    val p18 = SparkEntry.queries("q_tpch_q18")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(p18.contains("partial_sum"),
      s"Q18's quantity aggregate must combine map-side:\n$p18")
    // Q5 (the 6-table tree): every join keyed, dimension sides broadcast,
    // the order-date range pushed to the orders scan
    val dfQ5 = SparkEntry.queries("q_tpch_q5")(spark, TestSpark.sfDir)
    dfQ5.collect()
    val p5 = dfQ5.queryExecution.executedPlan.toString
    assert(!p5.contains("CartesianProduct") && !p5.contains("NestedLoop"),
      s"Q5 must keep every join of the 6-table tree keyed:\n$p5")
    assert("BroadcastHashJoin".r.findAllIn(p5).length >= 2,
      s"Q5 must broadcast both bounded dimension sides (supplier, region-pruned nations):\n$p5")
    assert(allScans(dfQ5.queryExecution.executedPlan)
        .exists(_.metadata.getOrElse("PushedFilters", "").contains("o_orderdate")),
      "Q5's order-date range must reach the orders scan")
    // Q9 (derived partsupp): the composite-key partsupp join rides the
    // broadcast (the name-filtered slice is dimension-sized), lineitem→
    // orders is the one shuffled fact-fact join, supplier∘nation
    // broadcast — so the tree carries ≥3 broadcast joins, no cartesian,
    // and the profit aggregate combines map-side
    val dfQ9 = SparkEntry.queries("q_tpch_q9")(spark, TestSpark.sfDir)
    dfQ9.collect()
    val p9 = dfQ9.queryExecution.executedPlan.toString
    assert(!p9.contains("CartesianProduct") && !p9.contains("NestedLoop"),
      s"Q9 must keep every join keyed (incl. the composite partsupp key):\n$p9")
    assert("BroadcastHashJoin".r.findAllIn(p9).length >= 3,
      s"Q9 must broadcast partsupp, supplier and nation:\n$p9")
    assert(p9.contains("partial_sum"),
      s"Q9's profit aggregate must combine map-side:\n$p9")
    // Q20: the semi-join chain stays semi end-to-end (LeftSemi joins,
    // nothing fans out to be re-distinct-ed), the 1997 ship-date range
    // reaches the lineitem scan, no cartesian. STATIC plan: at this SF
    // the result can be empty, and AQE's empty-relation propagation
    // would collapse the finalized tree to a LocalTableScan with no
    // scans left to assert on
    val p20 = plan("q_tpch_q20")
    assert(!p20.contains("CartesianProduct") && !p20.contains("NestedLoop"),
      s"Q20 must keep every join keyed:\n$p20")
    assert("LeftSemi".r.findAllIn(p20).length >= 2,
      s"Q20's eligibility chain must stay semi-join shaped:\n$p20")
    assert(p20.contains("PushedFilters") && p20.contains("l_shipdate)"),
      s"Q20's 1997 ship-date range must reach the lineitem scan:\n$p20")
    // Q12: the lateness predicate compares columns of BOTH join sides, so
    // it must sit post-join as a Filter — and must NOT degrade the join
    // itself to a nested loop
    val dfQ12 = SparkEntry.queries("q_tpch_q12")(spark, TestSpark.sfDir)
    dfQ12.collect()
    val p12 = dfQ12.queryExecution.executedPlan.toString
    assert(!p12.contains("CartesianProduct") && !p12.contains("NestedLoop"),
      s"Q12's orderkey equi-join must carry the lateness filter as residual:\n$p12")
    assert(p12.contains("partial_sum"),
      s"Q12's conditional counts must combine map-side:\n$p12")
    // Q2 (derived partsupp): every join broadcast (part slice, supplier∘
    // nation∘region), the correlated min a WINDOW over ps_partkey — one
    // shuffle total, no cartesian
    val dfQ2 = SparkEntry.queries("q_tpch_q2")(spark, TestSpark.sfDir)
    dfQ2.collect()
    val p2 = dfQ2.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("NestedLoop"),
      s"Q2 must keep every join keyed:\n$p2")
    assert("BroadcastHashJoin".r.findAllIn(p2).length >= 2,
      s"Q2 must broadcast the part slice and the region-filtered suppliers:\n$p2")
    assert(p2.contains("Window"),
      s"Q2's per-part minimum must be a window, not a re-join:\n$p2")
    // Q11: nation's suppliers ride a broadcast LeftSemi into partsupp,
    // the value aggregate combines map-side, and the ONLY nested-loop is
    // the intended 1-row global (total, cnt) broadcast-back
    val dfQ11 = SparkEntry.queries("q_tpch_q11")(spark, TestSpark.sfDir)
    dfQ11.collect()
    val p11 = dfQ11.queryExecution.executedPlan.toString
    assert(p11.contains("LeftSemi"),
      s"Q11's nation filter must stay semi-join shaped:\n$p11")
    assert(p11.contains("partial_sum"),
      s"Q11's value aggregate must combine map-side:\n$p11")
    assert(!p11.contains("CartesianProduct") &&
      "BroadcastNestedLoopJoin".r.findAllIn(p11).length <= 1,
      s"Q11's only unkeyed join is the 1-row global threshold broadcast:\n$p11")
    // Q16: part slice broadcast, the complaints exclusion a broadcast
    // LeftAnti, no cartesian — the one shuffle is countDistinct's
    // two-phase aggregate
    val dfQ16 = SparkEntry.queries("q_tpch_q16")(spark, TestSpark.sfDir)
    dfQ16.collect()
    val p16 = dfQ16.queryExecution.executedPlan.toString
    assert(!p16.contains("CartesianProduct") && !p16.contains("NestedLoop"),
      s"Q16 must keep every join keyed:\n$p16")
    assert(p16.contains("LeftAnti"),
      s"Q16's supplier exclusion must stay anti-join shaped:\n$p16")
    assert("BroadcastHashJoin".r.findAllIn(p16).length >= 1,
      s"Q16 must broadcast the filtered part slice:\n$p16")
  }

  test("q_ivf_probe: probe assignment is a plan node (Generate under the broadcast), not a driver loop") {
    import org.apache.spark.sql.execution.{GenerateExec, LocalTableScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val df = SparkEntry.queries("q_ivf_probe")(spark, TestSpark.sfDir)
    df.collect() // finalize the adaptive plan
    def unwrap(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q) ++ unwrap(q.plan)
      case other => Seq(other) ++ other.children.flatMap(unwrap)
    }
    val nodes = unwrap(df.queryExecution.executedPlan)
    // the query-side broadcast must CONTAIN the probe-list Generate (the
    // explode of the centroid-score slice) fed by the index scan — probe
    // derivation is a distributed expression, not a collected table
    val bcasts = nodes.collect { case b: BroadcastExchangeLike => b }
    assert(bcasts.nonEmpty, "the query side must broadcast into the bucket join")
    assert(bcasts.exists(b => unwrap(b).exists(_.isInstanceOf[GenerateExec])),
      s"probe lists must be assigned in-plan (Generate under the broadcast):\n${df.queryExecution.executedPlan}")
    // a driver-loop formulation would surface as a localized probe-pair
    // table (LocalTableScan / parallelized RDD scan) — none may exist
    assert(!nodes.exists(n => n.isInstanceOf[LocalTableScanExec] || n.isInstanceOf[RDDScanExec]),
      "no collected probe-pair table may appear in the plan")
  }

  test("partitioned ANN index: probe reads prune to the probed bucket dirs") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = java.nio.file.Files.createTempDirectory("graft-annidx").toString + "/idx"
    Similarity.writeAnnIndex(spark, TestSpark.sfDir, path)
    val all = spark.read.parquet(path)
    val probes = Similarity.probeBuckets(0L)
    val probe = Similarity.probeAnnIndex(spark, path, probes)
    val scans = probe.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "probe must be a file scan")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"bucket probe must prune partitions, got:\n${probe.queryExecution.executedPlan}")
    // pruning must not change results: pruned scan == post-hoc filter
    val viaFilter = all.filter(org.apache.spark.sql.functions.col("bucket")
      .isin(probes: _*)).count()
    assert(probe.count() === viaFilter)
    assert(probe.count() < all.count(), "probe set must be a strict subset of the corpus")
  }

  test("q_bm25: token stream filters to query terms below the first exchange; top-k is a heap, not a sort") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q_bm25")(spark, TestSpark.sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // the final top-k must be TakeOrderedAndProject (per-partition heap +
    // driver merge), never a global Sort exchange
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
    // the IN(query terms) filter must run with NO exchange below it —
    // i.e. map-side, so only query-term hits ever shuffle
    def unwrap(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => unwrap(q.plan)
      case other => Seq(other) ++ other.children.flatMap(unwrap)
    }
    val nodes = unwrap(df.queryExecution.executedPlan)
    // match the term filter STRUCTURALLY: an In/InSet whose literal value
    // set is exactly Search.QueryTerms — substring matching would also hit
    // unrelated filters and silently weaken if the term list changed
    import org.apache.spark.sql.catalyst.expressions.{In, InSet, Literal}
    val terms: Set[String] = graft.operators.Search.QueryTerms.toSet
    def isTermIn(cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      cond.exists {
        case In(_, list) => list.forall(_.isInstanceOf[Literal]) &&
          list.collect { case Literal(v, _) => String.valueOf(v) }.toSet == terms
        case InSet(_, hset) => hset.map(String.valueOf) == terms
        case _ => false
      }
    val termFilters = nodes.collect {
      case f: FilterExec if isTermIn(f.condition) => f
    }
    assert(termFilters.nonEmpty, s"expected the query-term IN filter:\n$p")
    termFilters.foreach { f =>
      val below = f.children.flatMap(unwrap)
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"term filter must be map-side (no exchange below it):\n$p")
    }
  }

  test("q_bm25_probe: the stored posting scan prunes to the query terms' shard dirs") {
    val df = SparkEntry.queries("q_bm25_probe")(spark, TestSpark.sfDir)
    val postingScans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("shard"))
    assert(postingScans.nonEmpty, "probe must scan the partitioned posting store")
    assert(postingScans.forall(_.partitionFilters.nonEmpty),
      s"term probe must prune shard partitions, got:\n${df.queryExecution.executedPlan}")
  }

  test("q_ann_topk_agg: bounded partial aggregate, no per-query sort window") {
    val p = plan("q_ann_topk_agg")
    assert(p.contains("partial_graft_topk"),
      s"map tasks must reduce candidates to k BEFORE the shuffle:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      "the typed aggregate runs in ObjectHashAggregate")
    assert(!p.contains("Window"),
      "the aggregate face must not fall back to the window's per-query sort")
  }

  test("q_ann_pq: broadcast ADC scan, bounded partial aggregate, no window") {
    val p = plan("q_ann_pq")
    assert(p.contains("partial_graft_topk"),
      s"map tasks must reduce PQ candidates to k BEFORE the shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the query batch (with its ADC lookup tables) must broadcast — the corpus never shuffles")
    assert(!p.contains("Window"),
      "the PQ face must not fall back to a per-query window sort")
  }

  test("q_heavy_hitters: partial sketch before the shuffle, broadcast recount") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("partial_graft_mg"),
      s"map tasks must reduce their token stream to k counters BEFORE the shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the candidate recount must be a broadcast semi-filter, never a full-vocab shuffle join")
    assert(p.contains("ReadSchema: struct<text:string,lang:string>"),
      s"heavy hitters must read only (text, lang):\n$p")
  }

  test("q_compress_ratio: codegen'd per-row projection, pruned scan, no shuffle before the sort") {
    // codegen stage markers only appear in the AQE final plan — execute first
    val df = SparkEntry.queries("q_compress_ratio")(spark, TestSpark.sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_deflate_len"),
      s"the signal must come from the native expression, not a UDF:\n$p")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined,
      s"the deflate projection must sit inside WholeStageCodegen:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"),
      "no UDF in the hot path")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"compress ratio must read only (doc_id, text):\n$p")
    // exactly one exchange: the harness's deterministic orderBy
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx <= 2, s"per-row signal must not shuffle beyond the final sort:\n$p")
  }

  test("q_sample_pergroup: bounded partial aggregate, no per-stratum sort") {
    val p = plan("q_sample_pergroup")
    assert(p.contains("partial_graft_topk"),
      s"map tasks must reduce each stratum to k before the shuffle:\n$p")
    assert(!p.contains("Window"),
      "the sampler must not fall back to a per-stratum window sort")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"sampling must read only (doc_id, lang):\n$p")
  }

  test("q_gap_fill: generator grid, equi-join fill, pruned scan") {
    val p = plan("q_gap_fill")
    assert(p.contains("Generate"),
      s"the hourly grid must come from a sequence generator, not a join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "the observed-sums fill must stay an equi-join on (user_id, hr)")
    // Column NAMES only — the physical type of events.ts is the data
    // generator's choice (INT64 nanos, TIMESTAMP, TIMESTAMP_NTZ have all
    // appeared across rounds) and Tables.events normalizes all of them;
    // pinning a flavor here broke on a regenerated file once already.
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val eventScans = readSchemas.filter(s => s.contains("user_id") || s.contains("props"))
    assert(eventScans.nonEmpty, s"expected an events scan in:\n$p")
    eventScans.foreach { rs =>
      val cols = rs.split(",").map(_.takeWhile(_ != ':').trim).toSet
      assert(cols.subsetOf(Set("ts", "user_id", "value")),
        s"gap fill must not read event columns beyond (user_id, ts, value), got $cols:\n$p")
    }
  }

  test("q_pagerank: iteration rounds read the persisted edge list, not its lineage") {
    // the PUBLIC entry materializes through the checkpoint seam, so its
    // returned plan is one ExistingRDD scan (asserted below); the
    // per-round shape lives in the pre-checkpoint lazy frame
    import graft.operators.{Checkpointer, Graph}
    import org.apache.spark.sql.functions.col
    val e0 = Graph.custSuppEdges(spark, TestSpark.sfDir)
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val (rank, edgesDeg, lastCk) =
      Graph.pagerankLazy(und, Graph.PrIters, Checkpointer.Local)
    try {
      rank.collect()
      val p = rank.queryExecution.executedPlan.toString
      assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
        s"each round must scan the cached edges:\n$p")
      // rounds AND the rank seed read the cache: the lineitem⋈orders edge
      // derivation must not appear in the DAG outside the cached plan
      val direct = allScans(rank.queryExecution.executedPlan)
        .count(_.relation.location.rootPaths.exists(_.toString.contains("lineitem")))
      assert(direct === 0,
        s"edge derivation must be cached, found $direct direct lineitem scans:\n$p")
    } finally {
      edgesDeg.unpersist(blocking = false)
      lastCk.foreach(Checkpointer.Local.release)
    }
    // and the public entry returns the MATERIALIZED frame: a checkpoint
    // scan, no residual cache entry (GraphSpec pins the CacheManager)
    val pub = SparkEntry.queries("q_pagerank")(spark, TestSpark.sfDir)
    pub.collect()
    val pubPlan = pub.queryExecution.executedPlan.toString
    assert(pubPlan.contains("ExistingRDD"),
      s"public pagerank must read its own checkpoint, not recompute:\n$pubPlan")
  }

  test("q_tpch_q1: pushed date filter, pruned scan, two-phase aggregation") {
    val p = plan("q_tpch_q1")
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      s"the ship-date cutoff must reach the parquet scan:\n$p")
    assert(!p.contains("l_partkey") && !p.contains("l_orderkey"),
      s"the pricing summary must not read key columns:\n$p")
    // partial + final HashAggregate: the shuffle carries |groups| partial
    // rows per map task, not data — the property that makes this the
    // one-pass 100 TB aggregate
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected two-phase hash aggregation:\n$p")
  }

  test("q_tpch_q6: every predicate reaches the parquet reader") {
    // the rendered plan truncates long PushedFilters lists, so assert on
    // the scan node's metadata, which carries the full string
    val df = SparkEntry.queries("q_tpch_q6")(spark, TestSpark.sfDir)
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a lineitem file scan")
    val pushed = scans.map(_.metadata("PushedFilters")).mkString("; ")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach { f =>
      assert(pushed.contains(f), s"predicate $f must be in PushedFilters: $pushed")
    }
    assert(!plan("q_tpch_q6").contains("l_orderkey"),
      "the revenue scan must not read key columns")
  }

  test("q_skew_join: the enrichment join shuffles on (key, salt), never broadcasts") {
    val p = plan("q_skew_join")
    assert(p.contains("ShuffledHashJoin"),
      s"salting shapes the SHUFFLED join case; a broadcast would make it a no-op:\n$p")
    assert(p.contains("__salt"),
      s"the join keys must carry the salt column:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the salted join must not degrade to a broadcast (salt would be dead weight):\n$p")
  }

  test("q_fuzzy_join and q_lm_score: blocked equi-joins only, pruned scans") {
    val pf = plan("q_fuzzy_join")
    assert(!pf.contains("NestedLoop") && !pf.contains("CartesianProduct"),
      s"the prefix block must keep the fuzzy join an equi-join:\n$pf")
    assert(pf.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "fuzzy join must read only (doc_id, text)")
    val pl = plan("q_lm_score")
    assert(!pl.contains("CartesianProduct"),
      s"LM scoring joins on gram keys (the 1-row vocab rides a broadcast):\n$pl")
    assert(pl.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "LM scoring must read only (doc_id, text)")
  }

  test("q_lm_score: the corpus gram stream never crosses a shuffle (r22 measured shape)") {
    // The resolved r21 comment (TextOps.lmScore): the tokenize runs twice
    // — once into the vocab²-bounded count aggregate, once into the
    // scoring join — and in exchange the corpus-scale gram stream itself
    // never rides a ShuffleExchange (the repartition(bg) single-pass
    // variant was measured SLOWER at sf0.1: 1.16→1.25 s). Pinned
    // structurally: every side of the bg scoring join that carries the
    // raw gram stream (a subtree with a file scan and no aggregate) must
    // contain no shuffle exchange — broadcast exchanges are the shape.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("q_lm_score")(spark, TestSpark.sfDir)
    df.collect() // AQE final plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val bgJoins = nodes(df.queryExecution.executedPlan).collect {
      case b: BroadcastHashJoinExec
        if (b.leftKeys ++ b.rightKeys).mkString.contains("bg#") => b
    }
    assert(bgJoins.nonEmpty, "the scoring join on bg must plan as a broadcast hash join")
    val gramSides = bgJoins.flatMap(b => Seq(b.left, b.right)).filter { side =>
      val ns = nodes(side)
      ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) &&
        !ns.exists(_.isInstanceOf[BaseAggregateExec])
    }
    assert(gramSides.nonEmpty, "one side of the bg join must be the raw gram stream")
    gramSides.foreach { side =>
      assert(!nodes(side).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"the raw gram stream must reach the scoring join without a shuffle exchange:\n$side")
    }
  }

  test("q_span_dedup: occurrence ranking partitions on span_hash, never a global window") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("q_span_dedup")(spark, TestSpark.sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: logical.Window => w }
    assert(wins.nonEmpty, "span dedup ranks occurrences via a window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "every window must partition (a global window serializes the corpus through one task)")
    assert(wins.exists(_.partitionSpec.exists(_.toString.contains("span_hash"))),
      "the first-seen ranking must key on the span content hash")
    // span text never crosses an exchange: rows entering the shuffle carry
    // hashes + offsets only
    val p = plan("q_span_dedup")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "span dedup must read only (doc_id, text)")
  }

  test("q_substr_dedup: every window partitions on high-cardinality keys; equi-join only") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("q_substr_dedup")(spark, TestSpark.sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: logical.Window => w }
    assert(wins.nonEmpty, "seed-and-extend counts frequencies and ranks diagonals via windows")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "every window must partition (frequency window on the gram hash, " +
        "island window on (doc_a, doc_b, diagonal)) — a global window " +
        "would serialize the token-cardinality seed set through one task")
    assert(wins.exists(_.partitionSpec.exists(_.toString.contains("h"))),
      "the seed-frequency cap must key on the gram hash")
    val p = plan("q_substr_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"the seed self-join must stay a hash equi-join on the gram hash:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "substring dedup must read only (doc_id, text)")
    // the removal face adds the interval-union windows: still every
    // window partitioned (per-doc partitions bounded by doc length)
    import org.apache.spark.sql.catalyst.plans.logical
    val rw = SparkEntry.queries("q_substr_removal")(spark, TestSpark.sfDir)
      .queryExecution.optimizedPlan.collect { case w: logical.Window => w }
    assert(rw.nonEmpty && rw.forall(_.partitionSpec.nonEmpty),
      "every interval-union window must partition (running-max and island id per doc)")
  }

  test("q_source_filter: the per-doc join rides a broadcast of the reputation table") {
    val df = SparkEntry.queries("q_source_filter")(spark, TestSpark.sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the source-verdict join must broadcast the source-granularity table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the reputation filter:\n$p")
    // the reputation aggregation itself reads only what it needs
    val ps = plan("q_source_reputation")
    assert(ps.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      s"reputation must read only (doc_id, text, source):\n$ps")
  }

  test("q_tpch_q4: the EXISTS is a semi join (orders never duplicate), date filter at the scan") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"),
      s"the existence test must plan as a semi join, not an inner join + distinct:\n$p")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(p).nonEmpty,
      s"the quarter filter must reach the orders scan:\n$p")
  }

  test("q_tpch_q19: the disjunction's per-side halves push into BOTH scans") {
    val p = plan("q_tpch_q19")
    // lineitem side: the union of the three quantity brackets
    assert("PushedFilters: \\[[^\\]]*Or\\(Or\\(And\\(GreaterThanOrEqual\\(l_quantity".r
      .findFirstIn(p).nonEmpty,
      s"the extractable quantity disjunction must reach the lineitem scan:\n$p")
    // part side: the brand/size brackets
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(p_brand".r.findFirstIn(p).nonEmpty,
      s"the extractable brand/size disjunction must reach the part scan:\n$p")
  }

  test("q_tpch_q21: one semi and one anti join, never an inner self-join pair explosion") {
    val p = plan("q_tpch_q21")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"the only-guilty-party chain must plan as semi + anti joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the supplier-inequality conditions must ride the orderkey equi-joins:\n$p")
  }

  test("q_triangles: every join is an equi-join (the orientation must not plan a nested loop)") {
    // the per-stage plan shape lives in the LAZY bodies — the public face
    // materializes each stage through the Checkpointer seam (r21), so its
    // returned plan is a sort over the final checkpoint (asserted below),
    // the q_pagerank pin's structure
    import graft.operators.Graph
    val lazyPlan = Graph.wedgeClose(Graph.orientedEdges(
        Graph.partCoEdges(spark, TestSpark.sfDir)))
      .queryExecution.executedPlan.toString
    assert(!lazyPlan.contains("CartesianProduct") && !lazyPlan.contains("BroadcastNestedLoopJoin"),
      s"wedge generation and closure must ride hash-key equi-joins:\n$lazyPlan")
    // the pair generator reads only (orderkey, partkey)
    assert("ReadSchema: struct<l_orderkey:[a-z]+,l_partkey:[a-z]+>".r.findFirstIn(lazyPlan).nonEmpty,
      s"edge derivation must read only the two key columns:\n$lazyPlan")
    // and the public face reads its own checkpoints: the edge pipeline
    // must not ride the DAG once per wedge/closure reference
    val pub = plan("q_triangles")
    assert(pub.contains("ExistingRDD"),
      s"public triangles must read the checkpointed stages, not recompute:\n$pub")
    assert(!pub.contains("Scan parquet"),
      s"no direct parquet scan may survive above the checkpoints:\n$pub")
  }

  test("q_anomaly: one aggregation feeds the baseline window; scan reads only (ts, event_type)") {
    val p = plan("q_anomaly")
    assert(p.contains("Window"),
      s"the trailing baseline must be a window over hourly rows:\n$p")
    assert("ReadSchema: struct<ts:[a-z0-9_()]+,event_type:string>".r.findFirstIn(p).nonEmpty
      || "ReadSchema: struct<event_type:string,ts:".r.findFirstIn(p).nonEmpty,
      s"the scan must read only the grouping columns:\n$p")
  }

  test("q_dsir: top-K is a bounded heap merge, never a global sort of the corpus") {
    val p = plan("q_dsir")
    // orderBy+limit(K) must plan as TakeOrderedAndProject — a per-
    // partition K-heap + K-bounded driver merge; a global Sort before
    // the limit would single-task the whole scored corpus at 100 TB
    assert(p.contains("TakeOrderedAndProject"),
      s"the selection must be the K-bounded take, not sort-then-limit:\n$p")
    // the rank window runs AFTER the take: its single task holds K rows
    assert(p.contains("Window"), s"sel_rank rides a window over the K rows:\n$p")
    // every document scan reads only the three needed columns
    val scanned = allScans(SparkEntry.queries("q_dsir")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan)
      .flatMap(_.requiredSchema.fieldNames).toSet
    assert(scanned.subsetOf(Set("doc_id", "text", "lang")),
      s"DSIR reads only (doc_id, text, lang), got $scanned")
  }

  test("q_video_meta: scan-shaped byte walk — one exchange (the harness sort), two columns") {
    val p = plan("q_video_meta")
    val exchanges = "\\bExchange\\b".r.findAllIn(p).length
    assert(exchanges <= 1, s"q_video_meta plans $exchanges exchanges (want ≤1, the sort):\n$p")
    assert("ReadSchema: struct<doc_id:[a-z]+,text:string>".r.findFirstIn(p).nonEmpty,
      s"the container walk reads only (doc_id, text):\n$p")
  }

  test("q_dsir_probe: the stored model frames ride broadcasts; selection stays a bounded heap") {
    val p = plan("q_dsir_probe")
    // the B-row count frames join the gram stream as broadcasts — the
    // corpus must never shuffle to meet index metadata
    assert(p.contains("BroadcastHashJoin"), s"model-frame joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge against the B-row model frames means the broadcast regressed:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"stored top-K must stay a bounded heap merge, never a global sort:\n$p")
  }

  test("q_url_dedup: reputation broadcasts; the keeper window partitions on canonical_url") {
    val p = plan("q_url_dedup")
    assert(p.contains("BroadcastHashJoin"),
      s"the |sources|-row reputation table must broadcast onto the corpus:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    // the only window partitions on the high-cardinality canonical URL —
    // bounded groups (one page's spelling variants), never a global sort
    assert("windowspecdefinition\\(canonical_url".r.findFirstIn(p).nonEmpty,
      s"the keeper window must partition by canonical_url:\n$p")
  }
}
