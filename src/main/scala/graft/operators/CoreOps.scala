package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.ScalarLib
import graft.sources.Tables

/** The reference's relational-operator inventory (SURVEY.md §2), each shape
  * demonstrated as an equivalent-structure query over the driver testdata and
  * verified against a DuckDB oracle (`oracles` below, same column names).
  *
  * Scale notes (local[32] today, 1000 executors tomorrow):
  *  - dimension-sized frames (part, per-group aggregates) are explicitly
  *    `broadcast()` so joins stay shuffle-free on the fact side;
  *  - every aggregate is a hash aggregate with map-side partial rows
  *    (plain groupBy/agg — Catalyst does partial+final automatically);
  *  - window queries partition on the natural key (one shuffle, no sort of
  *    the whole table);
  *  - money sums go through DecimalType so results are order-independent —
  *    a double sum would be nondeterministic across partition counts.
  *
  * Citations `body:`/`spec:` = the reference's pkg_batch_util files.
  */
object CoreOps {

  /** Exact, order-independent sum of a 2-decimal money double. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast(DoubleType)

  // S1/P1/P3 — scan + projection + equality predicate (body:133-143).
  // Filter and 4-column projection both reach the parquet scan
  // (PushedFilters + pruned ReadSchema); at 100 TB this is the difference
  // between reading 4 columns of one predicate's row-groups and reading
  // the whole table.
  def qScanProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  // P4 — case-insensitive equality UPPER(a)=UPPER(b) (body:136, 1179).
  def qFilterCi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(upper(col("c_mktsegment")) === upper(lit("Building")))
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  // P5 — NULL-safe equality, the reference's NVL(a,' ')=NVL(b,' ') idiom
  // (body:228-235) as Spark's <=> over derived nullable columns.
  def qNullsafeEq(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(nullif(col("l_returnflag"), lit("N")) <=> nullif(col("l_linestatus"), lit("O")))
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  // P6 — IS NULL / IS NOT NULL predicates (body:97, 137-140, 499).
  def qNullPred(s: SparkSession, dir: String): DataFrame = {
    val prio = nullif(col("o_orderpriority"), lit("5-LOW"))
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(
        sum(when(prio.isNull, 1).otherwise(0)).as("n_null"),
        sum(when(prio.isNotNull, 1).otherwise(0)).as("n_notnull"))
      .orderBy("o_orderstatus")
  }

  // P7/P8 — 3-level compound boolean with AND/OR/NOT and inequalities
  // (body:137-143, 290-320).
  def qBoolCompound(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        (col("l_returnflag") === "R" && col("l_quantity") > 25.0) ||
        (col("l_linestatus") === "F" && !(col("l_discount") < 0.05) && col("l_tax") =!= 0.02))
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  // P9 — IN-list predicate (body:465 `run_status IN ('RUNNING','WAITING')`).
  def qInList(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  // P10 — TRUNC(date) equality + trunc-grouped counts (body:179, 230-232).
  def qDateTruncEq(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(date_trunc("DAY", col("o_orderdate")) === col("o_orderdate"))
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n"))
      .orderBy("order_month")

  // P12 — SUBSTR/INSTR prefix extraction (body:290-320).
  def qSubstrInstr(s: SparkSession, dir: String): DataFrame = {
    val pos = instr(col("p_name"), " ")
    val head = when(pos > 0, expr("substring(p_name, 1, instr(p_name, ' ') - 1)"))
      .otherwise(col("p_name"))
    Tables.part(s, dir)
      .select(head.as("name_head"))
      .groupBy("name_head").agg(count(lit(1)).as("n"))
      .orderBy("name_head")
  }

  // J1 — nested-loop lookup join (body:258-267) → broadcast hash join:
  // part is dimension-sized, so the 100 TB lineitem side never shuffles.
  def qJoinLookup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"), moneySum(col("l_extendedprice")).as("revenue"))
      .orderBy("p_brand")

  /** Latest row per group (W1): the reference's `ORDER BY run_date DESC` +
    * `ROWNUM < 2` intent (body:158-165 — see SURVEY §2.5 on the latent
    * ROWNUM-before-ORDER-BY bug; we implement the intent: latest).
    */
  private def latestOrderPerCustomer(s: SparkSession, dir: String): DataFrame =
    EventOps.latestState(
      Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_orderdate"),
      Seq("o_custkey"), Seq(col("o_orderdate").desc, col("o_orderkey").desc))

  // J2 — equi-join with latest-run lookup (body:269-322).
  def qJoinLatest(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(latestOrderPerCustomer(s, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("o_orderkey").as("last_orderkey"), col("o_orderdate").as("last_orderdate"))
      .orderBy("c_custkey")

  // J3 — correlated EXISTS with MAX subquery (body:224-237) → left-semi
  // join against a groupBy/max derived frame (broadcast: group count is
  // dimension-sized even when the fact table is not).
  def qSemiExists(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val latest = o.groupBy(col("o_custkey").as("k")).agg(max("o_orderdate").as("d"))
    o.join(broadcast(latest),
        col("o_custkey") === col("k") && col("o_orderdate") === col("d"), "leftsemi")
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .orderBy("o_orderkey")
  }

  // J4/A2 — scalar subquery on MIN in predicate (body:140-143) → join on
  // the per-group aggregate.
  def qMinLevel(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val mins = p.groupBy(col("p_brand").as("b")).agg(min("p_size").as("ms"))
    p.join(broadcast(mins), col("p_brand") === col("b") && col("p_size") === col("ms"))
      .select("p_brand", "p_partkey", "p_size")
      .orderBy("p_brand", "p_partkey")
  }

  // J5 — anti-join, the reference's NO_DATA_FOUND branch (body:326-337).
  def qAnti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "leftanti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // A1 — NVL(MAX(...), default) (body:175-179).
  def qAggMax(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        coalesce(max("l_quantity"), lit(0.0)).as("max_qty"),
        coalesce(min("l_quantity"), lit(0.0)).as("min_qty"))
      .orderBy("l_returnflag")

  // A5 — row counting (cursor%ROWCOUNT, body:937) + distinct count.
  def qCount(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"), countDistinct("l_orderkey").as("n_orders"))
      .orderBy("l_returnflag", "l_linestatus")

  // A7 — run-id assignment MAX(run_id)+1 per module per day (body:170-182),
  // done the scalable way: one windowed row_number pass assigns ids for ALL
  // groups at once instead of a per-run max+1 round trip.
  def qRunidAssign(s: SparkSession, dir: String): DataFrame = {
    val day = date_trunc("DAY", col("ts"))
    val w = Window.partitionBy(col("user_id"), day).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), day.as("run_day"), col("event_id"),
        row_number().over(w).cast(LongType).as("run_id"))
      .orderBy("user_id", "run_day", "run_id")
  }

  // W1/O1 — latest-per-group standalone (body:158-165).
  def qTopnPergroup(s: SparkSession, dir: String): DataFrame =
    latestOrderPerCustomer(s, dir).orderBy("o_custkey")

  // O3 — ROWNUM-style top-k (body:164, 322): global sort + limit; Spark
  // plans this as TakeOrderedAndProject (per-partition top-k, no full sort).
  def qLimit(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5)
      .select("o_orderkey", "o_totalprice")

  // §2.8 DECODE — nested 2-level DECODE (body:271-279) as chained when().
  def qCaseDecode(s: SparkSession, dir: String): DataFrame = {
    val label =
      when(col("l_returnflag") === "R",
        when(col("l_linestatus") === "F", "returned-final").otherwise("returned-open"))
      .when(col("l_returnflag") === "A", "accepted")
      .otherwise("none")
    Tables.lineitem(s, dir)
      .select(label.as("status_label"))
      .groupBy("status_label").agg(count(lit(1)).as("n"))
      .orderBy("status_label")
  }

  // §2.8 scalar-string battery: NVL, UPPER, INITCAP, REPLACE, LENGTH,
  // LTRIM/RTRIM (body:62, 136, 407, 748, 826, 1055-1067, 1099-1102).
  def qScalarString(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        expr("replace(c_name, 'Customer#', 'C-')").as("name_replaced"),
        length(col("c_name")).as("name_len"),
        initcap(col("c_mktsegment")).as("seg_initcap"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("DEFAULT")).as("seg_nvl"),
        ltrim(rtrim(concat(lit("  "), col("c_name"), lit("  ")))).as("name_trim"))
      .orderBy("c_custkey")

  // §2.8 — Oracle `||` treats NULL as '' (q_concat_null pins our chosen
  // semantics: explicit coalesce on both engines; SURVEY §7.2.6).
  def qConcatNull(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        concat(coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("")),
          lit("/"), col("c_name")).as("tag"))
      .orderBy("c_custkey")

  // §2.8 TO_CHAR/TO_DATE — Oracle DD-MON-YYYY / HH24:MI:SS round trip
  // (body:116, 956-966, 1109). try_to_timestamp keeps ANSI mode safe.
  def qDateFmt(s: SparkSession, dir: String): DataFrame = {
    val dStr = date_format(col("o_orderdate"), ScalarLib.OracleDateFmt)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), dStr.as("d_str"),
        try_to_timestamp(dStr, lit(ScalarLib.OracleDateFmt)).as("d_rt"),
        date_format(col("o_orderdate"), "HH:mm:ss").as("t_str"))
      .orderBy("o_orderkey")
  }

  // §2.8 date arithmetic — date−date in *fractional days* (body:21,
  // 946-949) and date+N days (body:230, 929), on exact microsecond ints.
  def qDateArith(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        round((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))) / lit(86400000000.0), 6)
          .as("span_days"),
        (date_trunc("DAY", max(col("ts"))) + expr("INTERVAL 7 DAYS")).as("purge_horizon"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  // §2.8 math — TRUNC(n)→floor, MOD (body:31-33). `%`, not pmod: Oracle
  // MOD and DuckDB mod take the dividend's sign, pmod is always
  // non-negative — identical on these positive keys but a latent
  // differential mismatch if the data ever carries negatives.
  def qMath(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select((col("l_orderkey") % lit(7L)).as("bucket"),
        floor(col("l_quantity") / 7.0).cast(LongType).as("qbucket"))
      .groupBy("bucket", "qbucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket", "qbucket")

  // §2.4 extension — ROLLUP: hierarchical subtotals in ONE pass (partial
  // aggregation handles the grouping-set expansion map-side; no reference
  // analogue, listed in SURVEY §2.4 as built-in-if-needed). The grouping_id
  // disambiguates subtotal rows from genuine NULL keys.
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("revenue"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  // §2.4 extension — CUBE: all 2^k grouping combinations in one pass
  // (rollup's sibling; completes the grouping-sets family). Spark plans
  // one Expand + hash aggregate — rows multiply by 2^k map-side, so at
  // scale keep k small (k=2 here → 4×) exactly as with any engine.
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  // §2.4 extension — GROUPING SETS: the general form rollup/cube are
  // sugar for, with an ARBITRARY set list — (flag, status), (flag),
  // (status): not a rollup (it has (status)) and not a cube (it lacks
  // ()). Same one-pass Expand + hash-aggregate plan as its siblings —
  // rows multiply by |sets| map-side, partial aggregation absorbs it.
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("revenue"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  // §2.4 extension — PIVOT as conditional aggregation: one hash aggregate,
  // no extra shuffle vs the plain groupBy (each pivot cell is a map-side
  // partial). Fixed pivot values keep the schema static — the scalable
  // form (dynamic pivot needs a values scan first).
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(moneySum(col("l_quantity")))
      .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")

  // §2.7 extension — INTERSECT / EXCEPT (distinct set semantics): both
  // plan as aggregate + semi/anti joins, one shuffle each on the compare
  // key set. Demonstrated on customer segments.
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val buyers = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val both = building.intersect(buyers).withColumn("src", lit("building_buyer"))
    val windowShoppers = building.except(buyers).withColumn("src", lit("building_no_order"))
    both.unionAll(windowShoppers).orderBy("src", "c_custkey")
  }

  // §2.4 extension — multiset set ops (EXCEPT ALL / INTERSECT ALL):
  // the bag-semantics siblings of q_setops' distinct forms, where
  // duplicate cardinality carries through (x appearing m times in the
  // left and n in the right survives EXCEPT ALL max(m-n, 0) times,
  // INTERSECT ALL min(m, n) times). Spark plans both as count-aggregated
  // joins — one shuffle per side, no distinct pass — so the multiset
  // forms cost the same as the set forms at scale. Priority rows per
  // order replay the duplication (orders has several per priority).
  def qSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderstatus").as("status"))
    val high = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "2-HIGH")
      .select(col("o_orderstatus").as("status"))
    val survived = urgent.exceptAll(high).groupBy("status")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val common = urgent.intersectAll(high).groupBy("status")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    survived.unionByName(common).orderBy("op", "status")
  }

  // §2.5 extension — explicit window frames: lag/lead and a bounded
  // moving aggregate (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW). One
  // shuffle on the partition key; frames evaluate inside the window
  // operator with no extra exchange.
  def qWindowFrames(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFrame = w.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag("o_orderkey", 1).over(w).as("prev_orderkey"),
        lead("o_orderkey", 1).over(w).as("next_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(wFrame)
          .cast(DoubleType).as("moving_spend_3"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  // §2.5 extension — the rank family (rank, dense_rank, percent_rank,
  // cume_dist, ntile): one window pass per group ordering, the
  // analytics-SQL staple qWindowFrames' lag/lead/frames don't cover.
  // Ties rank identically in both engines (ORDER BY l_quantity alone, so
  // ties are real and the tie semantics — not just the happy path — are
  // what the oracle pins); ntile's uneven-bucket rule (first buckets get
  // the extra rows) matches DuckDB's.
  def qWindowRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy(col("l_quantity"))
    Tables.lineitem(s, dir)
      .filter(col("l_linenumber") === 1) // one row per order: bounded output
      .select(col("l_returnflag"), col("l_orderkey"), col("l_quantity"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"),
        ntile(4).over(w.orderBy(col("l_quantity"), col("l_orderkey")))
          .cast(LongType).as("quartile"))
      .orderBy("l_returnflag", "l_quantity", "l_orderkey")
  }

  // §2.3 extension — FULL OUTER join: daily signup activity vs daily
  // purchase activity over events, keyed on the day — days with only one
  // side must survive with the other side NULL-filled (the reconciliation
  // shape left/inner joins silently drop). Plans as a shuffled full outer
  // hash/merge join on the day key; day cardinality bounds the output.
  def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def daily(t: String, name: String): DataFrame =
      ev.filter(col("event_type") === t)
        .groupBy(date_trunc("DAY", col("ts")).as("d"))
        .agg(count(lit(1)).as(name))
    daily("signup", "n_signups")
      .join(daily("purchase", "n_purchases"), Seq("d"), "full_outer")
      .select(col("d"),
        coalesce(col("n_signups"), lit(0L)).as("n_signups"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy("d")
  }

  // §2.4 extension — exact interpolated quantiles (percentile agg): both
  // engines use the same linear-interpolation definition, so this is
  // differentially testable. At 100 TB the sketch twin is
  // approx_percentile (t-digest, mergeable map-side); the exact version
  // here collects per-group sorted buffers and is the small-group tool.
  // §2.3 extension — the star-schema analytic join (TPC-H Q5 shape):
  // revenue per nation for one region and one order year. Scale-honest
  // join strategy: lineitem⋈orders and the customer/supplier joins are
  // plain equi-joins (those tables grow with the data — at 100 TB they
  // shuffle on their keys, or co-bucket via Sinks.saveBucketed and
  // shuffle zero times; AQE auto-broadcasts them at small SF), while
  // nation/region — fixed 25/5-row dimensions at ANY scale — are
  // explicit broadcasts. Revenue multiplies exact decimals so the sum is
  // partition-order independent and hash-comparable.
  def qStarJoin(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
    Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // ---- TPC-H deep-join analogues (Q3 / Q10 / Q18 shapes) ------------------
  // The optimizer story at 100× wants evidence on join TREES, not just the
  // Q5-shape star: Q3 (3-table selective join under a group-limit), Q10
  // (4-table with a fixed-size dimension broadcast), Q18 (self-referential
  // big-order semi-join via a HAVING aggregate). Shared determinism
  // discipline: money/quantity sums run in decimal (partition-order
  // independent), and every ORDER BY ends in a unique key so the LIMIT
  // cut cannot straddle a tie. PlanSpec asserts the join strategy each
  // shape should pick (broadcast for bounded dims, hash for fact-fact,
  // never a cartesian) and the TakeOrderedAndProject top-k.

  private def revenueExpr =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))

  /** Q1 analogue — the pricing summary: ONE lineitem scan, map-side
    * partial aggregation into a handful of (returnflag, linestatus)
    * groups — the canonical "aggregate 100 TB in one pass" shape (the
    * shuffle carries |groups| × |partitions| partial rows, not data).
    * Sums run in decimal (partition-order independent); averages divide
    * the exact decimal sum by the group count and round, so both engines
    * do ONE double division on identical operands. The charge chain
    * extends [[revenueExpr]]'s decimal discipline with the (1+tax)
    * factor. */
  def qTpchQ1(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(revenueExpr).cast("double").as("sum_disc_price"),
        sum(revenueExpr * (lit(1).cast("decimal(18,2)") + col("l_tax").cast("decimal(18,2)")))
          .cast("double").as("sum_charge"),
        round(moneySum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        round(moneySum(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"),
        round(moneySum(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q6 analogue — the forecasting-revenue-change scan: ONE lineitem
    * pass, every predicate pushed to parquet (date range + discount band
    * + quantity cap all appear in PushedFilters), aggregating to a
    * single row. With Q1 it brackets the scan-bound end of TPC-H: Q1
    * measures wide-aggregate throughput, Q6 measures predicate
    * selectivity reaching the reader — at 100 TB the difference between
    * scanning row-groups the filters exclude and not reading them. */
  def qTpchQ6(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01")
        && col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Q3 analogue — shipping-priority top-10: BUILDING-segment orders
    * placed before the cutoff with lines still shipping after it. The
    * segment filter reaches the customer scan, both date filters reach
    * their scans, and the final top-10 is a heap (TakeOrderedAndProject),
    * not a global sort. */
  def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-01-01"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(revenueExpr).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** Q10 analogue — returned-item reporting: per-customer revenue lost to
    * returns in one quarter, nation joined from the fixed 25-row
    * dimension (explicit broadcast — correct at ANY scale). */
  def qTpchQ10(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01") && col("o_orderdate") < lit("1997-04-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(revenueExpr).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q18 analogue — large-volume customers: orders whose total line
    * quantity clears the threshold. The classic formulation re-joins
    * lineitem against a HAVING subquery; here the aggregate IS the join
    * input (one lineitem pass, no second scan), which is the plan the
    * subquery form optimizes to anyway. */
  def qTpchQ18(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("tq"))
      .filter(col("tq") > 200)
    Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("tq").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  /** Q5 analogue — local-supplier volume: the deepest join TREE in the
    * suite (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region),
    * with the classic "local" constraint c_nationkey = s_nationkey
    * riding the supplier join. Plan shape at any scale: the two big
    * facts (lineitem, date-filtered orders) shuffle once on orderkey;
    * customer joins on custkey; supplier (100 rows) and the
    * region-filtered nation list are EXPLICIT broadcasts — at 100 TB
    * the dimension sides of a star never justify an exchange, and the
    * region filter prunes nations before the broadcast ships. */
  def qTpchQ5(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = broadcast(
      Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(revenueExpr).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q12-shape — late-shipment priority accounting. The testdata carries
    * no l_shipmode/l_receiptdate, so the adaptation keeps Q12's plan
    * shape and semantics family exactly (one fact-fact equi-join, a
    * computed lateness predicate comparing columns of BOTH sides — so it
    * can only be applied post-join, never pushed to either scan — and
    * conditional-sum pivoting on order priority) with l_returnflag as
    * the reporting mode and shipped-&gt;90-days-after-order as lateness. */
  def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    val highPri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir).select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(highPri, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(highPri, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** Q14 analogue — promotion revenue share: one month of lineitem
    * joined to part, the share computed as a conditional sum over the
    * SAME join pass (no second scan). Decimal sums keep the ratio
    * partition-order-deterministic; part joins on partkey and the
    * optimizer picks broadcast vs shuffle by size — at 100 TB part is a
    * real fact-sized table and the equi-join shuffles on the key, which
    * is the classic Q14 plan. */
  def qTpchQ14(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-03-01") && col("l_shipdate") < lit("1997-04-01"))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(Tables.part(s, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(round(
        (sum(when(col("p_type") === "PROMO", revenueExpr)
          .otherwise(lit(0).cast("decimal(18,2)"))) * 100 / sum(revenueExpr))
          .cast("double"), 6).as("promo_revenue"),
        count(lit(1)).as("n_lines"))

  /** Q22 analogue — global-sales-opportunity: customers from a fixed
    * nation subset with above-average balance and NO orders. The shape
    * is the interesting part: a GLOBAL scalar aggregate (the average)
    * broadcast into a filter, then an anti join against the fact. The
    * classic "no orders at all" predicate is vacuous on this synthetic
    * corpus (every customer orders), so the anti side is the URGENT
    * subset — same shape, and the result class is non-empty so the
    * oracle gate actually discriminates. The
    * average is computed as decimal-sum / count and rounded once, so
    * both engines compare against bit-identical thresholds. */
  def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    val nations = Seq(1, 3, 5, 7, 9)
    val cust = Tables.customer(s, dir)
      .filter(col("c_nationkey").isin(nations: _*))
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(round((sum(col("c_acctbal").cast("decimal(18,2)")) / count(lit(1)))
        .cast("double"), 6).as("ab"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** Q4 analogue — order-priority checking: orders in one quarter with
    * at least one LATE line (shipped > 60 days after ordering; the
    * testdata has no commit/receipt dates, so lateness is the
    * shipdate-vs-orderdate form q_tpch_q12 already uses). The shape is
    * the point: an EXISTS whose predicate compares columns of BOTH
    * sides, so it becomes a left-semi join with a mixed equi+range
    * condition — the date filter pushes to the orders scan, the
    * existence test never duplicates orders however many lines are
    * late. */
  def qTpchQ4(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01") && col("o_orderdate") < lit("1996-10-01"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q7 analogue — volume shipping between two nations: revenue of
    * lines where supplier and customer sit in opposite members of a
    * nation PAIR, per direction per ship year. The disjunctive
    * nation-pair predicate references both dimension sides, so it can
    * only apply after the supplier and customer joins — but each
    * dimension's membership filter (nationkey ∈ {1, 2}) pushes into its
    * own scan first, shrinking both join inputs before the facts
    * shuffle. Supplier is an explicit broadcast (100 rows; at 100 TB a
    * real supplier dim still broadcasts after its nation filter). */
  def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    li.join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).filter(col("c_nationkey").isin(1, 2))
        .select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir).filter(col("s_nationkey").isin(1, 2))
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .filter((col("s_nationkey") === 1 && col("c_nationkey") === 2) ||
        (col("s_nationkey") === 2 && col("c_nationkey") === 1))
      .groupBy(col("s_nationkey").cast(LongType).as("supp_nation"),
        col("c_nationkey").cast(LongType).as("cust_nation"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(sum(revenueExpr).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q13 analogue — customer order-count distribution: LEFT OUTER join
    * so zero-order customers survive into the c_count = 0 bucket, then
    * a SECOND aggregation over the first's output (the distribution of
    * a distribution — two shuffles by construction, the second over at
    * most max-order-count distinct keys). The priority filter stands in
    * for Q13's comment NOT LIKE, and — the outer-join subtlety the
    * query exists to pin — it must sit IN THE JOIN CONDITION, not a
    * WHERE clause, or filtered-out customers would vanish instead of
    * counting zero. */
  def qTpchQ13(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey")
    Tables.customer(s, dir).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("c_count")) // nulls don't count
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q17 analogue — small-quantity-order revenue: lines of one brand's
    * parts whose quantity is under 20% of that PART's average quantity.
    * The correlated scalar subquery becomes an aggregate-derived
    * per-key threshold rejoined to the same fact — and the comparison
    * is cleared of division entirely (l_quantity · 5 · n < Σ quantity,
    * all decimal-exact), so both engines evaluate a bit-identical
    * predicate instead of racing decimal-quotient scale rules. The
    * brand filter broadcasts into both lineitem passes; only matching
    * lines reach the per-part aggregate. */
  def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#23").select("p_partkey"))
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(parts, col("l_partkey") === col("p_partkey"))
    val thr = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
        count(lit(1)).as("n_lines"))
    li.join(thr, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity").cast("decimal(18,2)") * 5 * col("n_lines") < col("sum_qty"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 6)
        .as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** Q19 analogue — discounted revenue under a DISJUNCTION of
    * conjunctive brackets (brand × size × quantity bands). The shape is
    * what matters at scale: the per-side halves of the OR (p_brand/
    * p_size on part, l_quantity bounds on lineitem) are extractable and
    * push to their scans as range filters even though the full
    * predicate must re-evaluate after the join — Catalyst's
    * constraint-propagation doing the partial pushdown a hand-written
    * engine would special-case. */
  def qTpchQ19(s: SparkSession, dir: String): DataFrame = {
    val cases =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(Tables.part(s, dir).select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .filter(cases)
      .agg(sum(revenueExpr).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q21 analogue — suppliers who kept orders waiting: for FINISHED
    * ('F') orders, the lines that shipped late (the q_tpch_q4 lateness)
    * where ANOTHER supplier contributed a line (semi join, anti-equal
    * supplier condition) but NO other supplier shipped late (anti join,
    * same condition on the late subset) — the only-guilty-party chain,
    * TPC-H's hardest EXISTS/NOT-EXISTS composition, expressed as one
    * semi and one anti join over the same orderkey-keyed exchanges.
    * Counting is at line granularity like the reference query. */
  def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    val late = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("l_orderkey", "l_suppkey")
    val others = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey"))
    val lateOthers = late
      .select(col("l_orderkey").as("o3_orderkey"), col("l_suppkey").as("o3_suppkey"))
    late
      .join(others, col("l_orderkey") === col("o2_orderkey") &&
        col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
      .join(lateOthers, col("l_orderkey") === col("o3_orderkey") &&
        col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Q8 analogue — national market share: of all revenue flowing to
    * customers in region-0 nations, the share supplied by NATION_1, per
    * order year. The shape: two INDEPENDENT dimension chains constrain
    * the same fact row (customer's nation → region on one side,
    * supplier's nation on the other), and the share is a conditional
    * sum over the SAME aggregate pass — no second scan, no join back.
    * Both dimension chains broadcast (region-filtered nations ∘
    * supplier is dimension-sized at any scale). */
  def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    val regionNations = broadcast(
      Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_regionkey") === 0),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cust_nation")))
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(regionNations, col("c_nationkey") === col("cust_nation"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(round((sum(when(col("s_nationkey") === 1, revenueExpr)
          .otherwise(lit(0).cast("decimal(18,2)"))) / sum(revenueExpr))
          .cast("double"), 6).as("mkt_share"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_year")
  }

  /** Derived PARTSUPP: the testdata ships no partsupp table, so the two
    * remaining expressible TPC-H join shapes (Q9's 2-key fact-to-
    * partsupp join, Q20's availability-vs-shipped gate) run over a
    * DETERMINISTIC derivation both engines compute identically —
    * dbgen's own supplier-assignment formula (each part gets 4
    * suppliers: `(p + i·(S/4 + (p−1)/S)) mod S + 1`, TPC-H spec §4.2.3)
    * with availqty/supplycost as fixed modular functions of the key
    * pair, exact in integer/decimal arithmetic on both sides. The
    * supplier COUNT parameterizes the formula at any SF; it is a
    * dimension-sized driver scalar (the broadcast-dim rule). At scale
    * partsupp is |part|×4 — dimension-sized next to lineitem, which is
    * why Q9 broadcasts it below. */
  /** Supplier count per (session, sf-dir), memoized: five queries build
    * [[partsuppOf]] and Bench/Verify/ScaleCheck invoke each repeatedly —
    * the 1-row count action is deterministic per dir, so paying the scan
    * on every DataFrame CONSTRUCTION (before any job even runs) is pure
    * waste. Dimension-sized driver scalar, the broadcast-dim rule. Same
    * staleness contract as [[Dedup]]'s cluster memo: REGENERATING the
    * dataset under a memoized dir inside one session serves the old
    * value — production datasets are immutable-per-path (TESTDATA's
    * contract); a dev shell that rewrites a dir starts a new session. */
  private val nSuppMemo =
    // WEAK session keys: a (SparkSession, dir) tuple key in a
    // process-lifetime map would pin each stopped session's whole object
    // graph in a long-lived multi-session JVM (r16 advice). Entries die
    // with their session; the inner per-dir map is the concurrent one.
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, Long]]())

  private[operators] def partsuppOf(s: SparkSession, dir: String): DataFrame = {
    // computeIfAbsent locks the synchronizedMap's own mutex — atomic
    // without an extra synchronized block around get/put
    val perDir = nSuppMemo.computeIfAbsent(s,
      _ => scala.collection.concurrent.TrieMap.empty[String, Long])
    val nSupp = perDir.getOrElseUpdate(dir, Tables.supplier(s, dir).count())
    Tables.part(s, dir).select(col("p_partkey").as("ps_partkey"))
      .withColumn("i", explode(array((0L to 3L).map(lit): _*)))
      .withColumn("ps_suppkey",
        pmod(col("ps_partkey") + col("i") *
          (lit(nSupp / 4) + expr(s"(ps_partkey - 1) div $nSupp")), lit(nSupp)) + lit(1L))
      .drop("i")
      .withColumn("ps_availqty",
        pmod(col("ps_partkey") * 7 + col("ps_suppkey") * 11, lit(9999L)) + lit(1L))
      .withColumn("ps_supplycost",
        (pmod(col("ps_partkey") * 31 + col("ps_suppkey") * 17, lit(20000L))
          .cast("decimal(18,2)") / lit(100) + lit(1)).cast("decimal(18,2)"))
  }

  /** Q9 analogue — product-type profit: every lineitem of the '%bolt%'
    * parts, profit = revenue − supply cost, by supplier nation and
    * order year. The signature shape partsupp exists for: the fact
    * table joins partsupp on the COMPOSITE (partkey, suppkey) — one
    * broadcast here, since the name-filtered partsupp slice is
    * dimension-sized — then orders (the one fact-fact shuffle),
    * supplier ∘ nation broadcast. Profit sums in decimal end-to-end. */
  def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    val ps = broadcast(partsuppOf(s, dir)
      .join(Tables.part(s, dir).filter(col("p_name").like("%bolt%"))
        .select("p_partkey"),
        col("ps_partkey") === col("p_partkey"), "left_semi"))
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity")
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(sum(revenueExpr -
          col("ps_supplycost") * col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Q20 analogue — excess-stock suppliers: suppliers in nation 1
    * holding more than half a year's shipments of any 'red%' part
    * (ps_availqty > 0.5 × qty shipped in 1997 for that (part, supp)
    * pair). The correlated scalar subquery of the official query
    * becomes a grouped shipment aggregate joined back on the composite
    * key; the half-of-qty comparison is re-expressed integer-exactly
    * (availqty × 2 > qty, both in decimal) so neither engine compares
    * float sums. Semi-join chain end-to-end — the supplier row is the
    * output, nothing fans out. */
  def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir).filter(col("p_name").like("red%"))
      .select("p_partkey")
    val shipped = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    val eligible = partsuppOf(s, dir)
      .join(broadcast(redParts), col("ps_partkey") === col("p_partkey"), "left_semi")
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty").cast("decimal(18,2)") * lit(2) > col("qty"))
      .select("ps_suppkey").distinct()
    Tables.supplier(s, dir).filter(col("s_nationkey") === 1)
      .join(eligible, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey").cast(LongType).as("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  /** Q2 analogue — min-cost supplier: for each mid-size STANDARD part,
    * the EUROPE-region supplier(s) offering it at the region's minimum
    * supply cost. The official query's correlated `= (SELECT min …)`
    * becomes a per-part window MIN over the region-filtered offer
    * slice: supplier ∘ nation ∘ region is dimension-sized (one
    * broadcast), partsupp is |part|×4 (dimension-scale next to the
    * facts), so the whole query runs broadcast joins plus ONE shuffle —
    * the window's ps_partkey partition. Ties share the minimum (both
    * engines return the full tie set; the ORDER BY is total, so the
    * compare is deterministic). */
  def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    val sized = Tables.part(s, dir)
      .filter(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
      .select("p_partkey", "p_brand")
    val eu = broadcast(Tables.supplier(s, dir)
      .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
      .join(Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey"),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE")
        .select("r_regionkey"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    partsuppOf(s, dir)
      .join(broadcast(sized), col("ps_partkey") === col("p_partkey"))
      .join(eu, col("ps_suppkey") === col("s_suppkey"))
      .withColumn("min_cost",
        min("ps_supplycost").over(Window.partitionBy("ps_partkey")))
      .filter(col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("ps_partkey").cast(LongType).as("p_partkey"), col("p_brand"),
        col("ps_supplycost").cast(DoubleType).as("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
  }

  /** Q11 analogue — important stock: per-part inventory value
    * (supplycost × availqty) held by one nation's suppliers, keeping
    * parts whose value exceeds 1.5× the nation's mean per-part value.
    * The official fixed fraction is 1/SF-scaled by hand; the mean-based
    * threshold is SCALE-INVariant (the kept share converges as parts
    * grow), and the comparison is re-expressed integer-exactly —
    * value·cnt·2 > total·3 — so neither engine compares float ratios.
    * Plan: nation's suppliers broadcast into a left-semi over the
    * dimension-scale partsupp, ONE groupBy shuffle, then the 1-row
    * (total, cnt) aggregate broadcasts back as a filter (the
    * q_tpch_q15 global-scalar shape). */
  def qTpchQ11(s: SparkSession, dir: String): DataFrame = {
    val natSupp = broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(Tables.nation(s, dir).filter(col("n_name") === "NATION_7")
        .select("n_nationkey"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey"))
    val v = partsuppOf(s, dir)
      .join(natSupp, col("ps_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("ps_partkey")
      .agg(sum(col("ps_supplycost") * col("ps_availqty").cast(DecimalType(18, 2)))
        .as("value"))
    val tot = v.agg(sum("value").as("total"), count(lit(1)).as("cnt"))
    v.crossJoin(broadcast(tot))
      .filter(col("value") * col("cnt") * lit(2) > col("total") * lit(3))
      // double conversion goes through decimal(18,2) on BOTH sides: the
      // value is exactly 2dp, and DuckDB's int128 wide-decimal → double
      // cast can land 1 ULP off the correctly-rounded conversion
      .select(col("ps_partkey").cast(LongType).as("ps_partkey"),
        col("value").cast(DecimalType(18, 2)).cast(DoubleType).as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  /** Q16 analogue — supplier diversity: distinct supplier counts per
    * (brand, type, size) over a size list, excluding one brand, one
    * type, and the negative-balance suppliers (the complaints filter
    * re-expressed over the columns the testdata carries). Both filters
    * broadcast (part and the excluded-supplier set are dims); the only
    * shuffle is the two-phase distinct aggregate Spark plans for
    * countDistinct — partial per (brand,type,size,suppkey), then the
    * final count. */
  def qTpchQ16(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#9" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 7, 10, 14, 20, 25, 32))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    partsuppOf(s, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast(LongType).as("p_size"))
      .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Q15 analogue — top supplier(s): per-supplier revenue over one
    * quarter, keeping exactly the supplier(s) achieving the GLOBAL
    * maximum. The classic view + correlated `= (SELECT max(...))`
    * becomes an aggregate whose 1-row maximum broadcasts back as a
    * filter — the q_tpch_q22 global-scalar shape applied to an
    * aggregate instead of a base table. Decimal revenue end-to-end so
    * the max-equality test compares exact values, never float sums. */
  def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-04-01"))
      .groupBy("l_suppkey")
      .agg(sum(revenueExpr).as("total_rev"))
    val top = rev.agg(max("total_rev").as("max_rev"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").cast(LongType).as("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  def qQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("q50"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"))
      .orderBy("l_returnflag")

  /** §2.4 extension — ROBUST dispersion: per-group median absolute
    * deviation and the MAD-based outlier count (|x − med| > 3·1.4826·
    * MAD, the robust z-score that a 3σ rule degenerates into when the
    * data itself sets the scale — unlike q_anomaly's mean/variance test
    * this one shrugs off the very outliers it hunts). Two grouped
    * exact-percentile passes with the 1-row-per-group medians joined
    * back (broadcast — group cardinality is dimension-sized); the
    * documented scale twin for both percentiles is approx_percentile
    * ([[qApproxQuantiles]]). The 1.4826 consistency constant is the
    * same literal on both engines, so the outlier threshold compares
    * identical doubles. */
  def qMad(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_returnflag", "l_quantity")
    val med = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("med"))
    val withDev = li.join(broadcast(med), "l_returnflag")
      .withColumn("dev", abs(col("l_quantity") - col("med")))
    val mad = withDev.groupBy("l_returnflag")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    withDev.join(broadcast(mad), "l_returnflag")
      .groupBy(col("l_returnflag"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("l_returnflag"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"), col("n"), col("n_outliers"))
      .orderBy("l_returnflag")
  }

  // §2.4 extension — the quantile sketch (approx_percentile, Spark's
  // Greenwald-Khanna summaries with rank error ≤ n/accuracy — NOT
  // t-digest), the scale twin qQuantiles' comment promises: mergeable
  // map-side, so at 100 TB the quantile costs one partial-aggregate pass
  // instead of per-group sorted buffers. Differential surface mirrors
  // q_approx_distinct: exact quantiles oracled, sketch-vs-exact distance
  // pinned inside the bound as a boolean the oracle fixes to TRUE, and
  // the raw estimates bounded in CoreOpsSpec.
  def qApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("q50_exact"),
        round(expr("percentile(l_quantity, 0.95)"), 6).as("q95_exact"),
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("a50"),
        expr("approx_percentile(l_quantity, 0.95, 10000)").as("a95"))
      .select(col("l_returnflag"), col("q50_exact"), col("q95_exact"),
        (abs(col("a50") - col("q50_exact")) <= 1.5 &&
          abs(col("a95") - col("q95_exact")) <= 1.5).as("approx_ok"))
      .orderBy("l_returnflag")

  // §2.4 extension — HLL sketch distinct count: at 100 TB an exact
  // countDistinct shuffles every distinct key; approx_count_distinct
  // carries a fixed-size HyperLogLog++ sketch per group (mergeable
  // map-side, deterministic — no RNG). The sketch estimate itself is
  // engine-specific, so the DIFFERENTIAL surface is (exact count, rows,
  // within-bound boolean): the oracle recomputes the exact columns and
  // pins approx_ok to TRUE — if Spark's HLL ever drifts past the bound,
  // the hash compare fails. CoreOpsSpec additionally bounds the raw
  // estimate against exact.
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n_orders_exact"),
        approx_count_distinct("l_orderkey", rsd = 0.02).as("n_orders_approx"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("n_orders_exact"), col("n_rows"),
        (abs(col("n_orders_approx") - col("n_orders_exact")) <=
          col("n_orders_exact") * lit(0.05)).as("approx_ok"))
      .orderBy("l_returnflag")

  // Engine-completeness extension — ANALYZE-style per-column statistics
  // (the optimizer-stats shape every engine maintains): one long-form
  // row per profiled column with ndv / null fraction / min / max, built
  // by stacking per-column aggregate rows over ONE scan each. Exact NDV
  // is the oracle-able face; a deployment collecting stats at 100 TB
  // swaps countDistinct for the HLL sketch (q_approx_distinct's bounded
  // pattern) without changing this query's shape. min/max stringified
  // so heterogeneous column types share the long-form schema.
  // Delegates to the generic [[Analyze.columnStats]] entry point so the
  // DuckDB oracle pins the reusable face, not a private copy.
  def qColumnStats(s: SparkSession, dir: String): DataFrame =
    Analyze.columnStats(Tables.orders(s, dir),
      Seq("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderdate"))

  // Engine-completeness extension — equi-width HISTOGRAM (the other
  // half of the optimizer-stats story next to [[qColumnStats]]): bucket
  // o_totalprice into 10 fixed-width bins over its [min, max] span.
  // Two scans — a 1-row min/max aggregate broadcast back onto the scan,
  // then one groupBy on the derived bin id (keys = bin count) — the
  // shape that scales; an equi-DEPTH histogram needs a global sort or
  // quantile sketch instead (q_quantiles / q_approx_quantiles cover
  // that face). The bin id is integer arithmetic on exact doubles,
  // identical in DuckDB.
  // Delegates to the generic [[Analyze.histogram]] entry point so the
  // DuckDB oracle pins the reusable face, not a private copy.
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    Analyze.histogram(Tables.orders(s, dir), "o_totalprice", bins = 10)

  // Engine-completeness extension — pairwise CORRELATION / COVARIANCE
  // (the column-relationship face of ANALYZE, next to the per-column
  // stats and histogram): Pearson corr + sample covariance over
  // lineitem's quantity/price/discount triple. Delegates to
  // [[Analyze.corrMatrix]] — exact decimal moment sums, one scan for
  // all pairs, the closed forms evaluated in double once at the end —
  // because the built-in corr()/covar_samp() stream double co-moments
  // whose low bits depend on partition order, which the differential
  // gate cannot tolerate.
  def qCorrStats(s: SparkSession, dir: String): DataFrame =
    Analyze.corrMatrix(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount"))

  // §2.2 extension — UNPIVOT/melt (the inverse of [[qPivot]]): rotate
  // lineitem's measure triple into (key, metric, value) long form — the
  // wide→long reshaping every profiling/plotting pipeline leans on.
  // Plans as a Generate/Expand projection — per-row fan-out, NO shuffle
  // (PlanSpec asserts no Exchange below the sort) — so it scales as a
  // map-side transform; values pass through untouched (no arithmetic),
  // making the differential compare exact.
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"),
        col("l_discount").cast("double").as("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  // U1 — func_datediff H:M:S over real spans (spec:28-29, body:17-36).
  def qDatediff(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
      .select(col("user_id"),
        ScalarLib.datediffHms(col("first_ts"), col("last_ts")).as("elapsed_hms"))
      .orderBy("user_id")

  // U2 — func_check_date validation cascade (spec:67-70, body:90-123),
  // exercised across all five outcome branches.
  def qCheckDate(s: SparkSession, dir: String): DataFrame = {
    val cand = when(pmod(col("o_orderkey"), lit(5L)) === 0, date_format(col("o_orderdate"), ScalarLib.OracleDateFmt))
      .when(pmod(col("o_orderkey"), lit(5L)) === 1, lit("XX-XXX-9999"))
      .when(pmod(col("o_orderkey"), lit(5L)) === 2, lit("short"))
      .when(pmod(col("o_orderkey"), lit(5L)) === 3, lit("TOO-LONG-DATE-99"))
      .otherwise(lit(null).cast("string"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), cand.as("cand"))
      .select(col("o_orderkey"), col("cand"),
        ScalarLib.checkDateCode(col("cand")).as("code"),
        ScalarLib.checkDateNormalized(col("cand")).as("normalized"))
      .orderBy("o_orderkey")
  }

  // U3 — func_field_counter (spec:72-77, body:729-762).
  def qFieldCount(s: SparkSession, dir: String): DataFrame = {
    val sCol = concat_ws(",", col("c_name"), col("c_mktsegment"), col("c_nationkey").cast("string"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), ScalarLib.fieldCount(sCol, ",").cast(LongType).as("n_fields"))
      .orderBy("c_custkey")
  }

  // U4 — func_get_nth_field (spec:79-85, body:768-814).
  def qNthField(s: SparkSession, dir: String): DataFrame = {
    val sCol = concat_ws(",", col("c_name"), col("c_mktsegment"), col("c_nationkey").cast("string"))
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        ScalarLib.nthField(sCol, ",", 2).as("field_2"),
        ScalarLib.nthField(sCol, ",", 3).as("field_3"))
      .orderBy("c_custkey")
  }

  // U5/U6 — func_string_to_number digit-run atoi (spec:87-91, body:817-857).
  def qAtoi(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        ScalarLib.atoi(concat(col("l_linenumber").cast("string"), col("l_returnflag"))).as("atoi_digits"),
        ScalarLib.atoi(concat(col("l_returnflag"), col("l_linenumber").cast("string"))).as("atoi_alpha"))
      .orderBy("l_orderkey", "l_linenumber")

  // S6 — retention purge as filter-rewrite (body:926-939): keep >= horizon.
  // The 1-row max aggregate is broadcast so the fact scan is a single pass
  // with no shuffle; at 100 TB the same plan holds (AQE turns the cross
  // join of a 1-row frame into a broadcast nested loop).
  def qRetentionFilter(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val mx = e.agg(max("ts").as("mx_ts"))
    e.crossJoin(broadcast(mx))
      .filter(col("ts") >= col("mx_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy(date_trunc("DAY", col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .orderBy("d")
  }

  // Flagship: E3 func_get_loader_file_name (spec:116-120, body:1163-1251) —
  // scan → expression-project with ${DAY} templating (body:1175-1176) →
  // case-insensitive filter (body:1179) → 3-branch UNION ALL (body:1174-1197)
  // → seq-ordered string aggregation (body:1214-1224). The cursor
  // concat-loop becomes one sorted-collect expression per group: partial
  // collect_list is map-side, the sort is per-group in the agg expression,
  // so the only shuffle is the groupBy hash exchange.
  def qUnionStragg(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    def branch(brand: String, prefix: String, suffix: String): DataFrame =
      p.filter(upper(col("p_brand")) === upper(lit(brand)))
        .select(col("p_brand").as("batch"), col("p_partkey").as("file_seq"),
          concat(lit(prefix), expr("replace(p_name, ' ', '_')"), lit("_${DAY}" + suffix)).as("file_tpl"))
    val u = branch("brand#11", "F_", ".dat")
      .unionAll(branch("brand#12", "AVG_", ".vdn"))
      .unionAll(branch("brand#13", "F_", ".log"))
      .withColumn("fname", regexp_replace(col("file_tpl"), "\\$\\{DAY\\}", "MON"))
    u.groupBy("batch")
      .agg(
        expr("array_join(transform(array_sort(collect_list(named_struct('k', file_seq, 'v', fname))), s -> s.v), ' ')")
          .as("files"),
        count(lit(1)).as("n_files"))
      .orderBy("batch")
  }

  // ---- file-level data skipping (sources/Manifest) ----------------------
  // S1/S6 extension: the manifest generalizes partition pruning to ANY
  // orderable column (per-file min/max sidecar; Iceberg/Delta's data-
  // skipping idea from public primitives). Both query faces share their
  // oracle with a plain filtered scan — skipping must be answer-invisible;
  // ManifestSpec asserts the pruned scans touch strict file subsets.
  private def manifestStorePath(dir: String): String =
    graft.sources.TmpStores.scopedPath("graft-manifest", dir)

  private def zorderStorePath(dir: String): String =
    graft.sources.TmpStores.scopedPath("graft-zorder", dir)

  /** One year of shipments served through a manifest-pruned read of a
    * ship-date-clustered lineitem layout (range clustering → tight
    * per-file date intervals → most files skip). */
  def qManifestPrune(s: SparkSession, dir: String): DataFrame = {
    val path = manifestStorePath(dir)
    graft.sources.TmpStores.buildOnce(path) {
      graft.sources.Manifest.writeClustered(
        Tables.lineitem(s, dir), path, "l_shipdate", 16, Seq("l_shipdate"))
    }
    graft.sources.Manifest.readPruned(s, path, "l_shipdate",
      java.sql.Timestamp.valueOf("1996-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("1996-12-31 23:59:59"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** A part-key range served through the Z-ordered layout: bit-interleaved
    * (l_partkey, l_suppkey) sort key, so ONE layout prunes on either
    * column (ManifestSpec measures both) — lexicographic clustering would
    * be tight only on its leading column. */
  def qZorderPrune(s: SparkSession, dir: String): DataFrame = {
    val path = zorderStorePath(dir)
    graft.sources.TmpStores.buildOnce(path) {
      graft.sources.Manifest.writeZordered(
        Tables.lineitem(s, dir), path, Seq("l_partkey", "l_suppkey"), 24, 16)
    }
    graft.sources.Manifest.readPruned(s, path, "l_partkey", 100L, 299L)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** SQL*Loader-shape CSV ingest under the differential gate: derive a
    * pipe-separated file from the documents table with a DETERMINISTIC
    * corruption planted (every doc_id % 31 = 4 line carries a
    * non-numeric third field), load it through
    * [[graft.sources.Sinks.readCsvWithRejects]], and report per-lang
    * row/char totals over the GOOD rows plus one `__rejected` row
    * counting the BAD-file side. The oracle derives both halves from
    * the predicates alone, so green pins the PERMISSIVE parse, the
    * corrupt-record split, and that rejects are neither dropped nor
    * double-counted — the reference loader's .bad contract
    * (`pkg_batch_util_body.sql` sqlldr flow) on Spark's native CSV
    * reader. Null-lang docs are excluded up front (a null key cannot
    * round-trip a CSV field unambiguously — boundary-format rule). */
  def qCsvLoad(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("lang").isNotNull)
      // derivation-safety guard, LOUD by design: a '|' inside lang would
      // shift fields across the good/reject split relative to the oracle
      // (which derives from the predicates, not the file), and a null
      // text nulls the concat, which the text writer then rejects with an
      // unrelated error. Both are corpus-shape assumptions — a future
      // corpus change must fail here with the real reason, not diverge
      // silently downstream.
      .withColumn("lang",
        when(col("lang").contains("|").or(col("text").isNull),
          raise_error(concat(lit("qCsvLoad: derivation-unsafe document "),
            col("doc_id"), lit(" (lang contains '|' or text is null)"))))
          .otherwise(col("lang")))
    val path = graft.sources.TmpStores.scopedPath("graft-csvload", dir)
    graft.sources.TmpStores.buildOnce(path) {
      docs.select(concat(
          col("doc_id").cast("string"), lit("|"), col("lang"), lit("|"),
          when(pmod(col("doc_id"), lit(31L)) === 4, lit("notanumber"))
            .otherwise(length(col("text")).cast("string"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(path)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT")
    val (good, bad) = graft.sources.Sinks.readCsvWithRejects(s, path, schema, sep = "|")
    // both aggregates reference EVERY schema column (doc_id via the
    // counts, lang, n_chars via the sums): Spark's csv column pruning
    // only parses referenced columns, so an aggregate that skipped
    // n_chars would never detect the corruption planted there and the
    // reject side would silently read 0 — the readCsvWithRejects
    // pruning caveat, exercised deliberately
    good.groupBy("lang")
      .agg(count(col("doc_id")).as("n_rows"), sum("n_chars").as("sum_chars"))
      .unionByName(
        bad.agg(count(col("doc_id")).as("n_rows"),
            sum(col("n_chars")).as("sum_chars")) // all NULL on rejects → NULL
          .select(lit("__rejected").as("lang"), col("n_rows"), col("sum_chars")))
      // tautological guard with a REQUIRED column: under a bare count()
      // (the bench contract) Catalyst would prune a global aggregate's
      // every expression — it always yields one row — leaving the bad
      // branch a corrupt-record-only scan, which Spark's raw-file rule
      // refuses outright; forcing n_rows keeps doc_id in the scan
      .filter(col("n_rows") >= 0)
      .orderBy("lang")
  }

  /** [[qCsvLoad]]'s JSONL twin over
    * [[graft.sources.Sinks.readJsonlWithRejects]]: derive a JSON-lines
    * file from the documents table, TRUNCATE every doc_id % 29 = 3 line
    * mid-object (the torn-write shape an interrupted producer leaves),
    * and report per-lang totals over the good rows plus the
    * `__rejected` count. A malformed JSON line parses NO field, so the
    * reject count goes through coalesce(doc_id, 0) — a real referenced
    * column (the corrupt-only-scan refusal) that is null on every
    * reject (hence the coalesce). Oracle derives both halves from the
    * predicates alone. */
  def qJsonlLoad(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("lang").isNotNull)
    val path = graft.sources.TmpStores.scopedPath("graft-jsonlload", dir)
    graft.sources.TmpStores.buildOnce(path) {
      val line = to_json(struct(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars")))
      docs.select(when(pmod(col("doc_id"), lit(29L)) === 3,
          substring(line, 1, 10)).otherwise(line).as("value"))
        .coalesce(1).write.mode("overwrite").text(path)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT")
    val (good, bad) = graft.sources.Sinks.readJsonlWithRejects(s, path, schema)
    good.groupBy("lang")
      .agg(count(col("doc_id")).as("n_rows"), sum("n_chars").as("sum_chars"))
      .unionByName(
        // count over a NULLABLE doc_id expression: count(coalesce(x, 0))
        // is non-nullable, so Catalyst rewrites it to count(1) and
        // prunes doc_id — leaving the corrupt-only scan Spark refuses.
        // A torn JSON line parses NO field, so doc_id IS NULL counts
        // exactly the rejects while keeping doc_id referenced.
        bad.agg(count(when(col("doc_id").isNull, lit(1))).as("n_rows"),
            sum(col("n_chars")).as("sum_chars")) // all NULL on rejects
          .select(lit("__rejected").as("lang"), col("n_rows"), col("sum_chars")))
      .filter(col("n_rows") >= 0) // the qCsvLoad pruning-stability guard
      .orderBy("lang")
  }

  /** Query registry (name → builder). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_csv_load"        -> qCsvLoad _,
    "q_jsonl_load"      -> qJsonlLoad _,
    "q_scan_project"    -> qScanProject _,
    "q_filter_ci"       -> qFilterCi _,
    "q_nullsafe_eq"     -> qNullsafeEq _,
    "q_null_pred"       -> qNullPred _,
    "q_bool_compound"   -> qBoolCompound _,
    "q_in_list"         -> qInList _,
    "q_date_trunc_eq"   -> qDateTruncEq _,
    "q_substr_instr"    -> qSubstrInstr _,
    "q_join_lookup"     -> qJoinLookup _,
    "q_join_latest"     -> qJoinLatest _,
    "q_semi_exists"     -> qSemiExists _,
    "q_min_level"       -> qMinLevel _,
    "q_anti"            -> qAnti _,
    "q_agg_max"         -> qAggMax _,
    "q_count"           -> qCount _,
    "q_runid_assign"    -> qRunidAssign _,
    "q_topn_pergroup"   -> qTopnPergroup _,
    "q_limit"           -> qLimit _,
    "q_case_decode"     -> qCaseDecode _,
    "q_scalar_string"   -> qScalarString _,
    "q_concat_null"     -> qConcatNull _,
    "q_date_fmt"        -> qDateFmt _,
    "q_date_arith"      -> qDateArith _,
    "q_math"            -> qMath _,
    "q_datediff"        -> qDatediff _,
    "q_check_date"      -> qCheckDate _,
    "q_field_count"     -> qFieldCount _,
    "q_nth_field"       -> qNthField _,
    "q_atoi"            -> qAtoi _,
    "q_retention_filter" -> qRetentionFilter _,
    "q_union_stragg"    -> qUnionStragg _,
    "q_rollup"          -> qRollup _,
    "q_cube"            -> qCube _,
    "q_grouping_sets"   -> qGroupingSets _,
    "q_pivot"           -> qPivot _,
    "q_approx_distinct" -> qApproxDistinct _,
    "q_column_stats"    -> qColumnStats _,
    "q_corr_stats"      -> qCorrStats _,
    "q_unpivot"         -> qUnpivot _,
    "q_window_ranks"    -> qWindowRanks _,
    "q_full_outer"      -> qFullOuter _,
    "q_histogram"       -> qHistogram _,
    "q_approx_quantiles" -> qApproxQuantiles _,
    "q_star_join"       -> qStarJoin _,
    "q_tpch_q1"         -> qTpchQ1 _,
    "q_tpch_q6"         -> qTpchQ6 _,
    "q_tpch_q3"         -> qTpchQ3 _,
    "q_tpch_q5"         -> qTpchQ5 _,
    "q_tpch_q12"        -> qTpchQ12 _,
    "q_tpch_q14"        -> qTpchQ14 _,
    "q_tpch_q22"        -> qTpchQ22 _,
    "q_tpch_q10"        -> qTpchQ10 _,
    "q_tpch_q18"        -> qTpchQ18 _,
    "q_tpch_q4"         -> qTpchQ4 _,
    "q_tpch_q7"         -> qTpchQ7 _,
    "q_tpch_q13"        -> qTpchQ13 _,
    "q_tpch_q17"        -> qTpchQ17 _,
    "q_tpch_q19"        -> qTpchQ19 _,
    "q_tpch_q21"        -> qTpchQ21 _,
    "q_tpch_q8"         -> qTpchQ8 _,
    "q_tpch_q9"         -> qTpchQ9 _,
    "q_tpch_q20"        -> qTpchQ20 _,
    "q_tpch_q2"         -> qTpchQ2 _,
    "q_tpch_q11"        -> qTpchQ11 _,
    "q_tpch_q16"        -> qTpchQ16 _,
    "q_tpch_q15"        -> qTpchQ15 _,
    "q_setops"          -> qSetOps _,
    "q_setops_all"      -> qSetOpsAll _,
    "q_window_frames"   -> qWindowFrames _,
    "q_quantiles"       -> qQuantiles _,
    "q_mad"             -> qMad _,
    "q_manifest_prune"  -> qManifestPrune _,
    "q_zorder_prune"    -> qZorderPrune _,
  )

  /** DuckDB-dialect oracles, column names matched to the Spark outputs. */
  /** Shared DuckDB CTE chain deriving PARTSUPP — the exact dbgen
    * formula [[partsuppOf]] computes Spark-side, so the two oracles
    * cannot drift from the derivation (`//` is DuckDB integer
    * division, matching Spark's `div`). Supplycost stays DECIMAL the
    * whole way: DuckDB's `/` promotes ANY operands to DOUBLE, so the
    * cents are scaled by a decimal 0.01 multiply instead — otherwise
    * Q11's threshold compare would be float on the oracle side while
    * Spark compares exact decimal. */
  private val duckPartsuppCtes: String =
    """ns AS (SELECT count(*) AS n FROM supplier),
      |ps0 AS (
      |  SELECT p_partkey AS ps_partkey,
      |    (p_partkey + i * (ns.n // 4 + (p_partkey - 1) // ns.n)) % ns.n + 1 AS ps_suppkey
      |  FROM part CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) CROSS JOIN ns),
      |partsupp AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    (ps_partkey * 7 + ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
      |    cast((ps_partkey * 31 + ps_suppkey * 17) % 20000 AS decimal(18,2))
      |      * cast(0.01 AS decimal(3,2)) + 1 AS ps_supplycost
      |  FROM ps0)""".stripMargin

  val oracles: Map[String, String] = Map(
    // CSV loader: both halves derive from the planted-corruption
    // predicate alone (see qCsvLoad)
    "q_csv_load" ->
      """WITH d AS (
        |  SELECT doc_id, lang, length(text) AS n_chars
        |  FROM documents WHERE lang IS NOT NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d WHERE doc_id % 31 <> 4 GROUP BY lang
        |UNION ALL
        |SELECT '__rejected', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
        |FROM d WHERE doc_id % 31 = 4
        |ORDER BY lang""".stripMargin,
    // JSONL twin: same derivation, %29 torn-line corruption (see qJsonlLoad)
    "q_jsonl_load" ->
      """WITH d AS (
        |  SELECT doc_id, lang, length(text) AS n_chars
        |  FROM documents WHERE lang IS NOT NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d WHERE doc_id % 29 <> 3 GROUP BY lang
        |UNION ALL
        |SELECT '__rejected', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
        |FROM d WHERE doc_id % 29 = 3
        |ORDER BY lang""".stripMargin,
    // data skipping is answer-invisible: both oracles are plain filtered
    // scans of the source table (no manifest, no layout)
    "q_manifest_prune" ->
      """SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |  AND TIMESTAMP '1996-12-31 23:59:59'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_zorder_prune" ->
      """SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 299
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_filter_ci" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE upper(c_mktsegment) = upper('Building') ORDER BY c_custkey""".stripMargin,
    "q_nullsafe_eq" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |WHERE nullif(l_returnflag, 'N') IS NOT DISTINCT FROM nullif(l_linestatus, 'O')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_null_pred" ->
      """SELECT o_orderstatus,
        |  cast(sum(CASE WHEN nullif(o_orderpriority, '5-LOW') IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_null,
        |  cast(sum(CASE WHEN nullif(o_orderpriority, '5-LOW') IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_notnull
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bool_compound" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |WHERE (l_returnflag = 'R' AND l_quantity > 25.0)
        |   OR (l_linestatus = 'F' AND NOT (l_discount < 0.05) AND l_tax <> 0.02)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_in_list" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_date_trunc_eq" ->
      """SELECT cast(date_trunc('month', o_orderdate) AS timestamp) AS order_month, count(*) AS n
        |FROM orders
        |WHERE date_trunc('day', o_orderdate) = o_orderdate
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_substr_instr" ->
      """SELECT CASE WHEN instr(p_name, ' ') > 0
        |            THEN substr(p_name, 1, instr(p_name, ' ') - 1)
        |            ELSE p_name END AS name_head, count(*) AS n
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_lookup" ->
      """SELECT p_brand, count(*) AS n_items,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_latest" ->
      """SELECT c_custkey, c_name, o_orderkey AS last_orderkey, o_orderdate AS last_orderdate
        |FROM customer JOIN (
        |  SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |    SELECT o_custkey, o_orderkey, o_orderdate,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders) t WHERE rn = 1) lo ON c_custkey = lo.o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_semi_exists" ->
      """SELECT o_orderkey, o_custkey, o_orderdate FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM (SELECT o_custkey AS k, max(o_orderdate) AS d FROM orders GROUP BY 1) m
        |  WHERE m.k = o.o_custkey AND m.d = o.o_orderdate)
        |ORDER BY o_orderkey""".stripMargin,
    "q_min_level" ->
      """SELECT p_brand, p_partkey, p_size FROM part p
        |WHERE EXISTS (
        |  SELECT 1 FROM (SELECT p_brand AS b, min(p_size) AS ms FROM part GROUP BY 1) m
        |  WHERE m.b = p.p_brand AND m.ms = p.p_size)
        |ORDER BY p_brand, p_partkey""".stripMargin,
    "q_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg_max" ->
      """SELECT l_returnflag, coalesce(max(l_quantity), 0.0) AS max_qty,
        |  coalesce(min(l_quantity), 0.0) AS min_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_count" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_runid_assign" ->
      """SELECT user_id, cast(date_trunc('day', cast(ts AS timestamp)) AS timestamp) AS run_day, event_id,
        |  row_number() OVER (PARTITION BY user_id, date_trunc('day', cast(ts AS timestamp))
        |                     ORDER BY ts, event_id) AS run_id
        |FROM events ORDER BY user_id, run_day, run_id""".stripMargin,
    "q_topn_pergroup" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin,
    "q_case_decode" ->
      """SELECT CASE l_returnflag
        |  WHEN 'R' THEN (CASE l_linestatus WHEN 'F' THEN 'returned-final' ELSE 'returned-open' END)
        |  WHEN 'A' THEN 'accepted' ELSE 'none' END AS status_label, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scalar_string" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |  replace(c_name, 'Customer#', 'C-') AS name_replaced,
        |  length(c_name) AS name_len,
        |  upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) AS seg_initcap,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_nvl,
        |  ltrim(rtrim('  ' || c_name || '  ')) AS name_trim
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_concat_null" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '') || '/' || c_name AS tag
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_date_fmt" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%d-%b-%Y') AS d_str,
        |  try_strptime(strftime(o_orderdate, '%d-%b-%Y'), '%d-%b-%Y') AS d_rt,
        |  strftime(o_orderdate, '%H:%M:%S') AS t_str
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_date_arith" ->
      """SELECT user_id,
        |  round((max(epoch_us(cast(ts AS timestamp))) - min(epoch_us(cast(ts AS timestamp)))) / 86400000000.0, 6) AS span_days,
        |  cast(date_trunc('day', max(cast(ts AS timestamp))) + INTERVAL 7 DAY AS timestamp) AS purge_horizon,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_math" ->
      """SELECT mod(l_orderkey, 7) AS bucket,
        |  cast(floor(l_quantity / 7.0) AS bigint) AS qbucket, count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_datediff" ->
      """SELECT user_id,
        |  cast(secs // 3600 AS varchar) || ':' || cast((secs % 3600) // 60 AS varchar)
        |    || ':' || cast(secs % 60 AS varchar) AS elapsed_hms
        |FROM (SELECT user_id,
        |        (max(epoch_us(cast(ts AS timestamp))) - min(epoch_us(cast(ts AS timestamp)))) // 1000000 AS secs
        |      FROM events GROUP BY 1) t
        |ORDER BY user_id""".stripMargin,
    "q_check_date" ->
      """SELECT o_orderkey, cand,
        |  CASE WHEN cand IS NULL OR length(cand) < 10 THEN -1
        |       WHEN length(cand) > 11 THEN 1
        |       WHEN try_strptime(cand, '%d-%b-%Y') IS NULL THEN 2
        |       ELSE 0 END AS code,
        |  CASE WHEN cand IS NOT NULL AND length(cand) BETWEEN 10 AND 11
        |       THEN try_strptime(cand, '%d-%b-%Y') END AS normalized
        |FROM (SELECT o_orderkey,
        |        CASE mod(o_orderkey, 5)
        |          WHEN 0 THEN strftime(o_orderdate, '%d-%b-%Y')
        |          WHEN 1 THEN 'XX-XXX-9999'
        |          WHEN 2 THEN 'short'
        |          WHEN 3 THEN 'TOO-LONG-DATE-99'
        |          ELSE NULL END AS cand
        |      FROM orders) t
        |ORDER BY o_orderkey""".stripMargin,
    "q_field_count" ->
      """SELECT c_custkey,
        |  length(s) - length(replace(s, ',', '')) + 1 AS n_fields
        |FROM (SELECT c_custkey,
        |        concat_ws(',', c_name, c_mktsegment, cast(c_nationkey AS varchar)) AS s
        |      FROM customer) t
        |ORDER BY c_custkey""".stripMargin,
    "q_nth_field" ->
      """SELECT c_custkey, split_part(s, ',', 2) AS field_2, split_part(s, ',', 3) AS field_3
        |FROM (SELECT c_custkey,
        |        concat_ws(',', c_name, c_mktsegment, cast(c_nationkey AS varchar)) AS s
        |      FROM customer) t
        |ORDER BY c_custkey""".stripMargin,
    "q_atoi" ->
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(try_cast(regexp_extract(trim(cast(l_linenumber AS varchar) || l_returnflag), '^([0-9]{1,18})', 1) AS bigint), 0) AS atoi_digits,
        |  coalesce(try_cast(regexp_extract(trim(l_returnflag || cast(l_linenumber AS varchar)), '^([0-9]{1,18})', 1) AS bigint), 0) AS atoi_alpha
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_retention_filter" ->
      """SELECT cast(date_trunc('day', cast(ts AS timestamp)) AS timestamp) AS d, count(*) AS n
        |FROM events, (SELECT max(cast(ts AS timestamp)) AS mx_ts FROM events) mx
        |WHERE cast(ts AS timestamp) >= mx_ts - INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mad" ->
      """WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY 1),
        |dev AS (
        |  SELECT l.l_returnflag, med, abs(l.l_quantity - med) AS dev
        |  FROM lineitem l JOIN med USING (l_returnflag)),
        |mad AS (
        |  SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.l_returnflag, round(med, 6) AS med, round(mad, 6) AS mad,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN dev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad USING (l_returnflag)
        |GROUP BY 1, med, mad ORDER BY 1""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS q25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS q50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS q75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_histogram" ->
      // Mirrors Analyze.histogram exactly: NULLs excluded (accounted as
      // null_frac in the stats face), constant column short-circuits to
      // bin 0 before the 0/0 division.
      """WITH span AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
        |SELECT CAST(CASE WHEN hi = lo THEN 0
        |    ELSE least(floor((o_totalprice - lo) * 10.0 / (hi - lo)), 9) END AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(o_totalprice), 2) AS bin_min,
        |  round(max(o_totalprice), 2) AS bin_max
        |FROM orders CROSS JOIN span
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_corr_stats" ->
      // Mirrors Analyze.corrMatrix token-for-token: exact decimal moment
      // sums (cast to decimal(18,4) first), the closed forms evaluated
      // in double with identical association order. CASE WHEN mirrors
      // the engine's pairwise-NULL exclusion (vacuous on this data).
      """WITH m AS (SELECT
        |  CAST(count(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN 1 END) AS double) AS n_a,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN CAST(l_quantity AS decimal(18,4)) END) AS double) AS sx_a,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN CAST(l_extendedprice AS decimal(18,4)) END) AS double) AS sy_a,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN CAST(l_quantity AS decimal(19,4)) * CAST(l_quantity AS decimal(19,4)) END) AS double) AS sxx_a,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN CAST(l_extendedprice AS decimal(19,4)) * CAST(l_extendedprice AS decimal(19,4)) END) AS double) AS syy_a,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN CAST(l_quantity AS decimal(19,4)) * CAST(l_extendedprice AS decimal(19,4)) END) AS double) AS sxy_a,
        |  CAST(count(CASE WHEN l_quantity IS NOT NULL AND l_discount IS NOT NULL THEN 1 END) AS double) AS n_b,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_quantity AS decimal(18,4)) END) AS double) AS sx_b,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_discount AS decimal(18,4)) END) AS double) AS sy_b,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_quantity AS decimal(19,4)) * CAST(l_quantity AS decimal(19,4)) END) AS double) AS sxx_b,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_discount AS decimal(19,4)) * CAST(l_discount AS decimal(19,4)) END) AS double) AS syy_b,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_quantity AS decimal(19,4)) * CAST(l_discount AS decimal(19,4)) END) AS double) AS sxy_b,
        |  CAST(count(CASE WHEN l_extendedprice IS NOT NULL AND l_discount IS NOT NULL THEN 1 END) AS double) AS n_c,
        |  CAST(sum(CASE WHEN l_extendedprice IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_extendedprice AS decimal(18,4)) END) AS double) AS sx_c,
        |  CAST(sum(CASE WHEN l_extendedprice IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_discount AS decimal(18,4)) END) AS double) AS sy_c,
        |  CAST(sum(CASE WHEN l_extendedprice IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_extendedprice AS decimal(19,4)) * CAST(l_extendedprice AS decimal(19,4)) END) AS double) AS sxx_c,
        |  CAST(sum(CASE WHEN l_extendedprice IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_discount AS decimal(19,4)) * CAST(l_discount AS decimal(19,4)) END) AS double) AS syy_c,
        |  CAST(sum(CASE WHEN l_extendedprice IS NOT NULL AND l_discount IS NOT NULL THEN CAST(l_extendedprice AS decimal(19,4)) * CAST(l_discount AS decimal(19,4)) END) AS double) AS sxy_c
        |FROM lineitem)
        |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, CAST(n_a AS bigint) AS n,
        |  round((n_a * sxy_a - sx_a * sy_a) / sqrt((n_a * sxx_a - sx_a * sx_a) * (n_a * syy_a - sy_a * sy_a)), 6) AS corr,
        |  round((sxy_a - sx_a * sy_a / n_a) / (n_a - 1.0), 6) AS covar_samp FROM m
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount', CAST(n_b AS bigint),
        |  round((n_b * sxy_b - sx_b * sy_b) / sqrt((n_b * sxx_b - sx_b * sx_b) * (n_b * syy_b - sy_b * sy_b)), 6),
        |  round((sxy_b - sx_b * sy_b / n_b) / (n_b - 1.0), 6) FROM m
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount', CAST(n_c AS bigint),
        |  round((n_c * sxy_c - sx_c * sy_c) / sqrt((n_c * sxx_c - sx_c * sx_c) * (n_c * syy_c - sy_c * sy_c)), 6),
        |  round((sxy_c - sx_c * sy_c / n_c) / (n_c - 1.0), 6) FROM m
        |ORDER BY col_x, col_y""".stripMargin,
    "q_window_ranks" ->
      """SELECT l_returnflag, l_orderkey, l_quantity,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 6) AS prnk,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  CAST(ntile(4) OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey) AS BIGINT) AS quartile
        |FROM lineitem WHERE l_linenumber = 1
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        |ORDER BY l_returnflag, l_quantity, l_orderkey""".stripMargin,
    "q_full_outer" ->
      """WITH s AS (
        |  SELECT cast(date_trunc('day', cast(ts AS timestamp)) AS timestamp) AS d,
        |    count(*) AS n_signups
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT cast(date_trunc('day', cast(ts AS timestamp)) AS timestamp) AS d,
        |    count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(s.d, p.d) AS d,
        |  coalesce(n_signups, 0) AS n_signups,
        |  coalesce(n_purchases, 0) AS n_purchases
        |FROM s FULL OUTER JOIN p ON s.d = p.d
        |ORDER BY d""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, CAST(l_quantity AS double) AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', CAST(l_extendedprice AS double) FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS double) FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q_column_stats" ->
      """SELECT 'o_orderdate' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderdate) AS BIGINT) AS ndv,
        |  round(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_frac,
        |  CAST(min(o_orderdate) AS VARCHAR) AS min_value, CAST(max(o_orderdate) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ndv,
        |  round(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_frac,
        |  CAST(min(o_orderpriority) AS VARCHAR) AS min_value, CAST(max(o_orderpriority) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv,
        |  round(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_frac,
        |  CAST(min(o_orderstatus) AS VARCHAR) AS min_value, CAST(max(o_orderstatus) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_totalprice) AS BIGINT) AS ndv,
        |  round(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_frac,
        |  CAST(min(o_totalprice) AS VARCHAR) AS min_value, CAST(max(o_totalprice) AS VARCHAR) AS max_value
        |FROM orders
        |ORDER BY column_name""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders_exact,
        |  count(*) AS n_rows, TRUE AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_approx_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS q50_exact,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS q95_exact,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_star_join" ->
      """SELECT n_name,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS sum_disc_price,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2))) * (1 + cast(l_tax AS decimal(18,2)))) AS double) AS sum_charge,
        |  round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double) / count(*), 6) AS avg_qty,
        |  round(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / count(*), 6) AS avg_price,
        |  round(cast(sum(cast(l_discount AS decimal(18,2))) AS double) / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_tpch_q6" ->
      """SELECT
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(l_discount AS decimal(18,2))) AS double) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS bigint) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_tpch_q14" ->
      """SELECT round(cast(
        |    sum(CASE WHEN p_type = 'PROMO'
        |        THEN cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))
        |        ELSE cast(0 AS decimal(18,2)) END) * 100 /
        |    sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2))))
        |  AS double), 6) AS promo_revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (1, 3, 5, 7, 9)),
        |ab AS (
        |  SELECT round(cast(sum(cast(c_acctbal AS decimal(18,2))) / count(*) AS double), 6) AS ab
        |  FROM c WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  cast(sum(cast(c_acctbal AS decimal(18,2))) AS double) AS totacctbal
        |FROM c
        |WHERE c_acctbal > (SELECT ab FROM ab)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_tpch_q18" ->
      """WITH bo AS (
        |  SELECT l_orderkey, sum(cast(l_quantity AS decimal(18,2))) AS tq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(cast(l_quantity AS decimal(18,2))) > 200)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  cast(tq AS double) AS total_qty
        |FROM orders
        |JOIN bo ON o_orderkey = bo.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q7" ->
      """SELECT cast(s_nationkey AS bigint) AS supp_nation,
        |  cast(c_nationkey AS bigint) AS cust_nation,
        |  cast(extract(year FROM l_shipdate) AS bigint) AS l_year,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((s_nationkey = 1 AND c_nationkey = 2) OR (s_nationkey = 2 AND c_nationkey = 1))
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_tpch_q13" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_custkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q17" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |thr AS (
        |  SELECT l_partkey AS t_partkey,
        |    sum(cast(l_quantity AS decimal(18,2))) AS sum_qty,
        |    count(*) AS n_lines
        |  FROM li GROUP BY 1)
        |SELECT round(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / 7.0, 6) AS avg_yearly,
        |  count(*) AS n_small
        |FROM li JOIN thr ON l_partkey = t_partkey
        |WHERE cast(l_quantity AS decimal(18,2)) * 5 * n_lines < sum_qty""".stripMargin,
    "q_tpch_q19" ->
      """SELECT
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_tpch_q21" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q_tpch_q9" ->
      s"""WITH $duckPartsuppCtes
        |SELECT n_name AS nation, cast(extract(year FROM o_orderdate) AS bigint) AS o_year,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))
        |    - ps_supplycost * cast(l_quantity AS decimal(18,2))) AS double) AS sum_profit,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q_tpch_q20" ->
      s"""WITH $duckPartsuppCtes,
        |shipped AS (
        |  SELECT l_partkey, l_suppkey, sum(cast(l_quantity AS decimal(18,2))) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |eligible AS (
        |  SELECT DISTINCT ps_suppkey FROM partsupp
        |  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |    AND cast(ps_availqty AS decimal(18,2)) * 2 > qty)
        |SELECT cast(s_suppkey AS bigint) AS s_suppkey, s_name
        |FROM supplier
        |WHERE s_nationkey = 1 AND s_suppkey IN (SELECT ps_suppkey FROM eligible)
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q2" ->
      s"""WITH $duckPartsuppCtes,
        |eu AS (
        |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name, p_brand
        |  FROM partsupp
        |  JOIN (SELECT p_partkey, p_brand FROM part
        |        WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD') p
        |    ON ps_partkey = p_partkey
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |m AS (SELECT *, min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
        |      FROM eu)
        |SELECT s_acctbal, s_name, n_name, cast(ps_partkey AS bigint) AS p_partkey,
        |  p_brand, cast(ps_supplycost AS double) AS ps_supplycost
        |FROM m WHERE ps_supplycost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,
    "q_tpch_q11" ->
      s"""WITH $duckPartsuppCtes,
        |v AS (
        |  SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value
        |  FROM partsupp
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7' GROUP BY ps_partkey),
        |tot AS (SELECT sum(value) AS total, count(*) AS cnt FROM v)
        |SELECT cast(ps_partkey AS bigint) AS ps_partkey,
        |  cast(cast(value AS decimal(18,2)) AS double) AS value
        |FROM v CROSS JOIN tot WHERE value * cnt * 2 > total * 3
        |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q_tpch_q16" ->
      s"""WITH $duckPartsuppCtes
        |SELECT p_brand, p_type, cast(p_size AS bigint) AS p_size,
        |  cast(count(DISTINCT ps_suppkey) AS bigint) AS supplier_cnt
        |FROM partsupp JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 14, 20, 25, 32)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_tpch_q8" ->
      """SELECT cast(extract(year FROM o_orderdate) AS bigint) AS o_year,
        |  round(cast(
        |    sum(CASE WHEN s_nationkey = 1
        |        THEN cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))
        |        ELSE cast(0 AS decimal(18,2)) END) /
        |    sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2))))
        |  AS double), 6) AS mkt_share,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_regionkey = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT cast(l_suppkey AS bigint) AS s_suppkey, s_name,
        |  cast(total_rev AS double) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_setops_all" ->
      """WITH u AS (SELECT o_orderstatus AS status FROM orders WHERE o_orderpriority = '1-URGENT'),
        |h AS (SELECT o_orderstatus AS status FROM orders WHERE o_orderpriority = '2-HIGH'),
        |ea AS (SELECT status FROM u EXCEPT ALL SELECT status FROM h),
        |ia AS (SELECT status FROM u INTERSECT ALL SELECT status FROM h)
        |SELECT status, CAST(count(*) AS BIGINT) AS n, 'except_all' AS op FROM ea GROUP BY 1
        |UNION ALL
        |SELECT status, CAST(count(*) AS BIGINT) AS n, 'intersect_all' AS op FROM ia GROUP BY 1
        |ORDER BY op, status""".stripMargin,
    "q_setops" ->
      """SELECT c_custkey, 'building_buyer' AS src FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'building_no_order' AS src FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY src, c_custkey""".stripMargin,
    "q_window_frames" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderkey, 1) OVER w AS prev_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey,
        |  cast(sum(cast(o_totalprice AS decimal(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS double) AS moving_spend_3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS revenue,
        |  cast(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS bigint) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS revenue,
        |  cast(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS bigint) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |  cast(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS bigint) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity AS decimal(18,2)) END) AS double) AS qty_f,
        |  cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity AS decimal(18,2)) END) AS double) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_union_stragg" ->
      """SELECT batch, string_agg(fname, ' ' ORDER BY file_seq) AS files, count(*) AS n_files
        |FROM (
        |  SELECT p_brand AS batch, p_partkey AS file_seq,
        |    replace('F_' || replace(p_name, ' ', '_') || '_${DAY}.dat', '${DAY}', 'MON') AS fname
        |  FROM part WHERE upper(p_brand) = upper('brand#11')
        |  UNION ALL
        |  SELECT p_brand, p_partkey,
        |    replace('AVG_' || replace(p_name, ' ', '_') || '_${DAY}.vdn', '${DAY}', 'MON')
        |  FROM part WHERE upper(p_brand) = upper('brand#12')
        |  UNION ALL
        |  SELECT p_brand, p_partkey,
        |    replace('F_' || replace(p_name, ' ', '_') || '_${DAY}.log', '${DAY}', 'MON')
        |  FROM part WHERE upper(p_brand) = upper('brand#13')
        |) u GROUP BY batch ORDER BY batch""".stripMargin,
  )
}
