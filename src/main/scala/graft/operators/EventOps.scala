package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.Tables

/** Event-stream batch operators over `events` (SURVEY §2.10 T4): gap-based
  * sessionization and time-bucketed aggregation. These are the batch twins
  * of the Structured Streaming path in graft.streaming — same logical
  * shapes, verified against the DuckDB oracle here where streaming output
  * can't be.
  *
  * Scale: both queries shuffle exactly once, partitioned by user_id /
  * (hour, type). Session assignment is the standard lag-gap + running-sum
  * pattern — no per-user collect, no iterative driver loop, so a 100 TB
  * event log sessionizes in one window pass per partition.
  */
object EventOps {

  private val GapUs = 30L * 60 * 1000000 // 30-minute session gap

  // Gap-based sessionization: new session when the previous event of the
  // same user is more than 30 min older; session_id = running count of
  // session starts (ROWS frame pinned explicitly so the oracle's window
  // semantics match exactly).
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    val newSess = when(prevTs.isNull ||
      (unix_micros(col("ts")) - unix_micros(prevTs)) > GapUs, 1).otherwise(0)
    Tables.events(s, dir)
      .withColumn("new_sess", newSess)
      .withColumn("session_id",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(LongType))
      .select("user_id", "event_id", "ts", "session_id")
      .orderBy("user_id", "ts", "event_id")
  }

  // Time-RANGE rolling window: per event, the count and value sum over
  // the trailing hour of the SAME user's stream — the frame class
  // q_window_frames' ROWS frames don't cover (membership is decided by
  // timestamp distance, not row offsets, so same-timestamp peers are
  // always in together). The frame key is unix_micros on BOTH engines
  // (DuckDB: epoch_us) — second-truncated keys would disagree with the
  // oracle on sub-second gaps. Scale shape: one shuffle on user_id, then
  // the range frame evaluates in a single sorted pass with a sliding
  // accumulator — the self-join formulation (events ⋈ events ON ts
  // BETWEEN) it replaces is quadratic in events-per-hour. Sum in decimal
  // for accumulation-order independence.
  def qRolling1h(s: SparkSession, dir: String): DataFrame =
    rolling1hOf(Tables.events(s, dir))

  /** [[qRolling1h]] over an arbitrary (user_id, event_id, ts, value)
    * frame — the seam the spec plants frame-boundary patterns through. */
  private[graft] def rolling1hOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000 * 1000, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast("decimal(18,6)")).over(w)
          .cast(DoubleType).as("sum_1h"))
      .orderBy("user_id", "ts", "event_id")
  }

  // Hourly windowed aggregation (batch twin of the streaming
  // window(ts, "1 hour") aggregation). Sum runs in decimal so the result
  // is independent of partitioning/accumulation order.
  def qWindowHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("HOUR", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast(DoubleType).as("sum_value"))
      .orderBy("hour_ts", "event_type")

  /** W1 latest-row-per-group view (body:158-165 intent — see SURVEY §2.5):
    * one window pass partitioned by the key; at scale this shuffles once on
    * the key and never collects a group to the driver. */
  def latestState(events: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // S5/X2 state view — the event-sourced batch_monitor "current state"
  // (the W1 window above) demonstrated on the events table: treat each
  // user's event stream as a status log and read the latest event per
  // user. The control store itself answers the same question from its
  // driver-side snapshot (MwStateStore.monitorState); ControlReadParitySpec
  // pins the two equal.
  def qStateLatest(s: SparkSession, dir: String): DataFrame =
    latestState(Tables.events(s, dir),
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_id", "ts", "event_type")
      .orderBy("user_id")

  // Semi-structured JSON column: parse events.props with a declared
  // schema (from_json — typed, codegen-friendly, malformed rows → NULL
  // not failure) and aggregate the extracted field. At scale the parse
  // happens in the scan projection; only the extracted ints shuffle.
  def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    val propsSchema = org.apache.spark.sql.types.StructType.fromDDL("k LONG")
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), propsSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        coalesce(max("k"), lit(0L)).as("max_k"))
      .orderBy("event_type")
  }

  /** Time-series resampling with forward fill — the gap-fill staple:
    * densify each user's event stream onto an hourly grid spanning
    * their first..last observed hour, mark the gap rows, and carry the
    * last observed hourly sum forward (`last(..., ignoreNulls)` over an
    * explicit running frame; filled values are COPIES, no arithmetic,
    * so the differential compare is exact).
    *
    * Scale shape: the grid generates per user-row via `sequence` —
    * a generator projection, no shuffle — sized users × span-hours
    * (the dense calendar frame, orders smaller than the event log);
    * the observed sums join back on (user_id, hr); the fill window
    * partitions per user — parallelism ∝ user cardinality, each
    * partition span-bounded. Hourly sums run in decimal
    * ([[qWindowHourly]]'s determinism discipline). */
  def qGapFill(s: SparkSession, dir: String): DataFrame =
    gapFillHourly(Tables.events(s, dir))

  /** [[qGapFill]] over an arbitrary (user_id, ts, value[, …]) frame —
    * the seam TemporalJoinsSpec plants constructed gap patterns
    * through. */
  private[graft] def gapFillHourly(events: DataFrame): DataFrame = {
    val obs = events
      .groupBy(col("user_id"), date_trunc("HOUR", col("ts")).as("hr"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast(DoubleType).as("hr_value"))
    val grid = obs.groupBy("user_id")
      .agg(min("hr").as("hr_min"), max("hr").as("hr_max"))
      .select(col("user_id"),
        explode(expr("sequence(hr_min, hr_max, interval 1 hour)")).as("hr"))
    val fill = Window.partitionBy("user_id").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "hr"), "left")
      .withColumn("is_gap", col("hr_value").isNull.cast("int"))
      .withColumn("filled_value", last(col("hr_value"), ignoreNulls = true).over(fill))
      .select("user_id", "hr", "hr_value", "is_gap", "filled_value")
      .orderBy("user_id", "hr")
  }

  /** Slowly-changing-dimension (type 2) build from the event log: the
    * reference's UPDATE-in-place state (SURVEY §2 S5) re-expressed as
    * versioned validity intervals — the warehouse-standard history
    * shape an ETL batch materializes for dimensions. Per user, tracked
    * attribute = event_type: consecutive duplicates collapse (an event
    * restating the current value opens no version), each change row
    * becomes a version with `valid_from` = its event time, `valid_to` =
    * the next change's time (NULL = current row), `version` = 1-based
    * change ordinal, `is_current` marking the open interval.
    *
    * Scale shape: ONE shuffle on user_id — the change-detection lag,
    * the valid_to lead, and the version row_number all run over the
    * same (user_id, ts, event_id) ordering, and the filter between
    * them preserves partitioning, so Catalyst plans a single Exchange
    * (PlanSpec asserts exactly one) — a 100 TB event log builds its
    * dimension history in one pass per user partition. Ordering ties
    * break on event_id (the replay contract), so the build is
    * deterministic under any partitioning. */
  def qScd2(s: SparkSession, dir: String): DataFrame =
    scd2Of(Tables.events(s, dir))

  /** [[qScd2]] over an arbitrary (user_id, event_type, ts, event_id)
    * frame — the seam TemporalJoinsSpec plants change patterns through. */
  private[graft] def scd2Of(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(!(col("prev_type") <=> col("event_type")))
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
      .withColumn("version", row_number().over(byUser).cast(LongType))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("version"),
        col("valid_to").isNull.cast("int").as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Ordered conversion funnel (view → click → purchase): a user counts
    * at step N only with a step-N event STRICTLY AFTER their step-N−1
    * entry time — the product-analytics staple, and the shape that
    * catches out-of-order noise a naive per-type count would admit.
    *
    * Scale shape: one keyed aggregation per step (min-ts per user,
    * filtered to events after the previous step's entry), each a
    * user_id-keyed shuffle of an already user-bounded frame; the final
    * output is |steps| rows. No windows, no per-user collect — a 100 TB
    * event log funnels in |steps| keyed passes. Conversion fractions
    * divide exact longs, rounded to 6. */
  def qEventFunnel(s: SparkSession, dir: String): DataFrame =
    funnelOf(s, Tables.events(s, dir))

  /** [[qEventFunnel]] over an arbitrary (user_id, event_type, ts) frame —
    * the seam TemporalJoinsSpec plants ordering edge cases through. */
  private[graft] def funnelOf(s: SparkSession, ev: DataFrame): DataFrame = {
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    // one job for all three counts (per-user left-join chain, then a
    // 1-row aggregate collected as control-plane metadata — the
    // Analyze.corrMatrix pattern; three separate count() actions would
    // re-evaluate the step chain per step)
    val m = s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .agg(count("t1"), count("t2"), count("t3")).head
    val (n1, n2, n3) = (m.getLong(0), m.getLong(1), m.getLong(2))
    import s.implicits._
    Seq((1, "view", n1), (2, "click", n2), (3, "purchase", n3))
      .toDF("step", "event_type", "n_users")
      .withColumn("conv_from_first",
        round(col("n_users") / lit(n1.toDouble), 6))
      .orderBy("step")
  }

  /** Cohort retention: users grouped by first-seen DAY, each cohort's
    * distinct-active count and retention fraction over day offsets
    * 0..7. Two keyed aggregations (first-seen per user, then distinct
    * (cohort, offset, user) counts) and a cohort-keyed window for the
    * day-0 denominator — every shuffle is on natural keys and the
    * output is cohorts × offsets rows, so the operator's cost is the
    * two passes regardless of corpus size. */
  def qCohort(s: SparkSession, dir: String): DataFrame =
    cohortOf(Tables.events(s, dir))

  /** [[qCohort]] over an arbitrary (user_id, ts) frame — the spec seam. */
  private[graft] def cohortOf(ev: DataFrame): DataFrame = {
    val cohorts = ev.groupBy("user_id")
      .agg(date_trunc("DAY", min("ts")).as("cohort_day"))
    val active = ev.select(col("user_id"), date_trunc("DAY", col("ts")).as("d"))
      .distinct()
      .join(cohorts, "user_id")
      .withColumn("day_offset", datediff(col("d"), col("cohort_day")).cast(LongType))
      .filter(col("day_offset").between(0, 7))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").as("n_active"))
    val base = Window.partitionBy("cohort_day")
    active
      .withColumn("cohort_size", sum(when(col("day_offset") === 0, col("n_active"))).over(base))
      .withColumn("retention", round(col("n_active") / col("cohort_size").cast("double"), 6))
      .select("cohort_day", "day_offset", "n_active", "retention")
      .orderBy("cohort_day", "day_offset")
  }

  // ---- mergeable-sketch rollup (the pre-aggregated distinct-count store) --
  /** Hourly HLL sketches of the active-user set, materialized ONCE as a
    * parquet pre-aggregate (one binary sketch row per hour), then rolled
    * up to days by sketch UNION — the datasketches property that makes
    * distinct counts pre-aggregable at all: union is register-wise max,
    * so merging hourly sketches equals sketching the day directly, and
    * ANY time-range distinct count is answered from bytes-per-bucket
    * state instead of a raw rescan (at 100 TB: a dashboard query over a
    * year touches ~9k sketch rows, not the event log).
    *
    * The estimate itself is engine-specific, so the oracle surface is
    * the q_approx_distinct pattern: (day, exact count, within-bound
    * boolean) with the oracle recomputing exact and pinning
    * approx_ok=TRUE — a sketch drifting past 5% turns the row red.
    * SketchSpec additionally proves the rollup is GROUPING-INVARIANT
    * (hourly-then-union ≡ daily-then-union bit-for-bit). */
  def qHllRollup(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.TmpStores.scopedPath("graft-hllsk", dir)
    graft.sources.TmpStores.buildOnce(path) {
      Tables.events(s, dir)
        .groupBy(date_trunc("HOUR", col("ts")).as("hr"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .write.mode("overwrite").parquet(path)
    }
    val daily = s.read.parquet(path)
      .groupBy(date_trunc("DAY", col("hr")).as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
    val exact = Tables.events(s, dir)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(countDistinct("user_id").as("n_exact"))
    exact.join(daily, "day")
      .select(col("day"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact").cast(DoubleType) * 0.05)
          .as("approx_ok"))
      .orderBy("day")
  }

  /** Minimum trailing hours before an anomaly verdict fires — a
    * baseline of 3 observations is noise, not a distribution. */
  private[graft] val AnomalyMinBase = 12L
  /** z² threshold (z > 3σ ⇔ z² > 9) — squared so the whole test stays
    * in exact integer arithmetic. */
  private[graft] val AnomalyZsq = 9L

  /** Hourly event-volume anomaly detection — the operations-monitoring
    * staple (is this hour's error volume abnormal for this event
    * type?): per (event_type, hour) counts, a TRAILING 24-hour baseline
    * (rows window, 24 preceding .. 1 preceding — the current hour must
    * not contaminate its own baseline), and a 3σ verdict.
    *
    * The z-score test runs ENTIRELY in exact integer arithmetic — the
    * float-determinism discipline taken to its limit: with c = baseline
    * hours, s = Σcounts, q = Σcounts², the test z² > 9 rewrites as
    *   (n·c − s)² > 9·(q·c − s²)   [n·c − s = c²·(n − mean); q·c − s² =
    *                                c²·var — the c² factors cancel]
    * so mean, variance, sqrt and division never materialize as floats
    * and the oracle compares bit-exact longs. Domain bound, stated
    * honestly: (n·c)² must fit int64, which holds for per-type hourly
    * volumes up to ~1.2×10⁸ (n·24 ≤ 3×10⁹, squared ≈ 8.7×10¹⁸ <
    * 2⁶³−1); a deployment whose single event type exceeds a hundred
    * million events per hour casts the three test terms to
    * decimal(38,0) — same exactness, wider headroom — or pre-scales
    * counts to thousands. Zero-variance baselines
    * (q·c = s²) flag any deviation (n·c ≠ s) — a constant history makes
    * every change anomalous, which is the correct 3σ limit.
    *
    * Scale: one shuffle to (type, hour) counts — hours × types rows,
    * calendar-sized, orders below the event log — then a per-type
    * window over hour-count rows. */
  def qAnomaly(s: SparkSession, dir: String): DataFrame =
    anomalyOf(Tables.events(s, dir))

  /** [[qAnomaly]] over an arbitrary (event_type, ts[, …]) frame — the
    * seam the streaming twin's spec compares against
    * ([[graft.streaming.EventStreams.anomalyStateful]]). */
  private[graft] def anomalyOf(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hour_ts")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("base_c", count(col("n")).over(w))
      // coalesced: an empty baseline sums to 0, not NULL — the value the
      // stateful twin's integer fold naturally produces
      .withColumn("base_s", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("base_q", coalesce(sum(col("n") * col("n")).over(w), lit(0L)))
      .select(col("event_type"), col("hour_ts"), col("n"),
        col("base_c"), col("base_s"),
        (col("base_c") >= AnomalyMinBase &&
          (col("n") * col("base_c") - col("base_s")) *
            (col("n") * col("base_c") - col("base_s")) >
            lit(AnomalyZsq) * (col("base_q") * col("base_c") - col("base_s") * col("base_s")))
          .cast("int").as("anomalous"))
      .orderBy("event_type", "hour_ts")
  }

  /** Funnel latency — how long conversion takes, not just whether it
    * happens ([[qEventFunnel]]'s missing axis): per first-view cohort
    * day, the exact latency distribution from a user's FIRST view to
    * their FIRST subsequent purchase. Latencies are exact micros longs;
    * the median interpolates via the exact `percentile` aggregate
    * (per-cohort sorted buffer — cohort-day-sized groups; the
    * documented scale twin is approx_percentile, as for
    * [[graft.operators.CoreOps.qApproxQuantiles]]). */
  def qFunnelLatency(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("t_p"))
    views.join(purch, Seq("user_id"))
      .filter(col("t_p") > col("t_view"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(col("t_p")).as("t_purchase"))
      .select(date_trunc("DAY", col("t_view")).as("cohort_day"),
        (unix_micros(col("t_purchase")) - unix_micros(col("t_view"))).as("latency_us"))
      .groupBy("cohort_day")
      .agg(count(lit(1)).as("n_converted"),
        min("latency_us").as("min_us"),
        round(expr("percentile(latency_us, 0.5)"), 6).as("p50_us"),
        max("latency_us").as("max_us"))
      .orderBy("cohort_day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_anomaly"       -> qAnomaly _,
    "q_funnel_latency" -> qFunnelLatency _,
    "q_hll_rollup"    -> qHllRollup _,
    "q_scd2"          -> qScd2 _,
    "q_event_funnel"  -> qEventFunnel _,
    "q_cohort"        -> qCohort _,
    "q_gap_fill"      -> qGapFill _,
    "q_sessionize"    -> qSessionize _,
    "q_window_hourly" -> qWindowHourly _,
    "q_rolling_1h"    -> qRolling1h _,
    "q_state_latest"  -> qStateLatest _,
    "q_json_extract"  -> qJsonExtract _,
  )

  val oracles: Map[String, String] = Map(
    "q_anomaly" ->
      """WITH h AS (
        |  SELECT event_type,
        |    cast(date_trunc('hour', cast(ts AS timestamp)) AS timestamp) AS hour_ts,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, hour_ts, n,
        |    CAST(count(n) OVER tw AS BIGINT) AS base_c,
        |    CAST(coalesce(sum(n) OVER tw, 0) AS BIGINT) AS base_s,
        |    CAST(coalesce(sum(n * n) OVER tw, 0) AS BIGINT) AS base_q
        |  FROM h
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour_ts
        |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_ts, n, base_c, base_s,
        |  CASE WHEN base_c >= 12
        |         AND (n * base_c - base_s) * (n * base_c - base_s)
        |             > 9 * (base_q * base_c - base_s * base_s)
        |       THEN 1 ELSE 0 END AS anomalous
        |FROM b ORDER BY event_type, hour_ts""".stripMargin,
    "q_funnel_latency" ->
      """WITH v AS (
        |  SELECT user_id, min(cast(ts AS timestamp)) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT v.user_id, v.t_view, min(cast(e.ts AS timestamp)) AS t_purchase
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND cast(e.ts AS timestamp) > v.t_view
        |  GROUP BY 1, 2),
        |l AS (
        |  SELECT cast(date_trunc('day', t_view) AS timestamp) AS cohort_day,
        |    CAST(epoch_us(t_purchase) - epoch_us(t_view) AS BIGINT) AS latency_us
        |  FROM c)
        |SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_converted,
        |  min(latency_us) AS min_us,
        |  round(quantile_cont(latency_us, 0.5), 6) AS p50_us,
        |  max(latency_us) AS max_us
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hll_rollup" ->
      """SELECT cast(date_trunc('day', cast(ts AS timestamp)) AS timestamp) AS day,
        |  count(DISTINCT user_id) AS n_exact, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_event_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(cast(ts AS timestamp)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(cast(e.ts AS timestamp)) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND cast(e.ts AS timestamp) > t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(cast(e.ts AS timestamp)) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND cast(e.ts AS timestamp) > t2 GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM s1) AS n1,
        |             (SELECT count(*) FROM s2) AS n2,
        |             (SELECT count(*) FROM s3) AS n3)
        |SELECT step, event_type, n_users,
        |  round(n_users / CAST(n1 AS double), 6) AS conv_from_first
        |FROM (
        |  SELECT 1 AS step, 'view' AS event_type, n1 AS n_users, n1 FROM n
        |  UNION ALL SELECT 2, 'click', n2, n1 FROM n
        |  UNION ALL SELECT 3, 'purchase', n3, n1 FROM n)
        |ORDER BY step""".stripMargin,
    "q_cohort" ->
      """WITH cohorts AS (
        |  SELECT user_id,
        |    cast(date_trunc('day', min(cast(ts AS timestamp))) AS timestamp) AS cohort_day
        |  FROM events GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT user_id,
        |    cast(date_trunc('day', cast(ts AS timestamp)) AS timestamp) AS d
        |  FROM events),
        |r AS (
        |  SELECT cohort_day, date_diff('day', cohort_day, d) AS day_offset,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM act JOIN cohorts USING (user_id)
        |  WHERE date_diff('day', cohort_day, d) BETWEEN 0 AND 7
        |  GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_active,
        |  round(n_active / CAST(sum(CASE WHEN day_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_day) AS double), 6) AS retention
        |FROM r ORDER BY cohort_day, day_offset""".stripMargin,
    "q_scd2" ->
      """WITH seq AS (
        |  SELECT user_id, event_type, cast(ts AS timestamp) AS ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id FROM seq
        |  WHERE prev_type IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS bigint) AS version,
        |  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |       THEN 1 ELSE 0 END AS is_current
        |FROM chg ORDER BY user_id, version""".stripMargin,
    "q_gap_fill" ->
      """WITH obs AS (
        |  SELECT user_id, cast(date_trunc('hour', cast(ts AS timestamp)) AS timestamp) AS hr,
        |    cast(sum(cast(value AS decimal(18,6))) AS double) AS hr_value
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(hr_min, hr_max, INTERVAL '1 hour')) AS hr
        |  FROM (SELECT user_id, min(hr) AS hr_min, max(hr) AS hr_max FROM obs GROUP BY 1))
        |SELECT g.user_id, g.hr, o.hr_value,
        |  CASE WHEN o.hr_value IS NULL THEN 1 ELSE 0 END AS is_gap,
        |  last_value(o.hr_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr
        |ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, event_id, cast(ts AS timestamp) AS ts,
        |  cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_id
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(cast(ts AS timestamp))
        |              - epoch_us(cast(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS timestamp))
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events) t
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_window_hourly" ->
      """SELECT cast(date_trunc('hour', cast(ts AS timestamp)) AS timestamp) AS hour_ts, event_type,
        |  count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rolling_1h" ->
      """SELECT user_id, event_id, cast(ts AS timestamp) AS ts,
        |  count(*) OVER w AS n_1h,
        |  cast(sum(cast(value AS decimal(18,6))) OVER w AS double) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(cast(ts AS timestamp))
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_state_latest" ->
      """SELECT user_id, event_id, cast(ts AS timestamp) AS ts, event_type FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(json_extract(props, '$.k') AS bigint)) AS bigint) AS sum_k,
        |  coalesce(max(cast(json_extract(props, '$.k') AS bigint)), 0) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
