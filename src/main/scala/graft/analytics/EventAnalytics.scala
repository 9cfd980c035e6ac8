package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CleanFns._

/** The reference's five-query capability contract (analytics.py:21-118),
  * re-expressed over the driver's `events` fixture (FIXTURES.md §B).
  *
  * Plans, by design:
  *  - every query reads 2–3 columns → parquet column pruning;
  *  - date bucketing happens pre-aggregation so the groupBy's partial
  *    (map-side) HashAggregate collapses rows before the single shuffle;
  *  - `countDistinct` stays exact to hash-match the oracle (swap in
  *    `approx_count_distinct` at the 100 TB design point when exactness is
  *    not contractual);
  *  - final `orderBy` is a range-partitioned sort only at export boundaries
  *    (the reference also sorts only on export, analytics.py:33 etc).
  */
object EventAnalytics {

  private def withDate(ev: DataFrame): DataFrame =
    ev.withColumn("event_date", eventDate(col("ts")))

  /** A1 — DAU: COUNT(DISTINCT user_id) per day, null users excluded
    * (analytics.py:26-34). */
  def dau(ev: DataFrame): DataFrame =
    withDate(ev)
      .filter(col("user_id").isNotNull)
      .groupBy("event_date")
      .agg(countDistinct(col("user_id")).as("dau"))
      .orderBy("event_date")

  /** A2 — daily revenue: ROUND(SUM(COALESCE(value,0)),2) over purchases
    * (analytics.py:38-52). */
  def revenue(ev: DataFrame): DataFrame =
    withDate(ev)
      .filter(col("event_type") === "purchase")
      .groupBy("event_date")
      .agg(round(sum(coalesce(col("value"), lit(0.0))), 2).as("revenue"))
      .orderBy("event_date")

  /** A3 — event counts per (day, type) (analytics.py:71-86). */
  def eventCounts(ev: DataFrame): DataFrame =
    withDate(ev)
      .groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_date", "event_type")

  /** A4 — signup→purchase funnel with divide-by-zero guard
    * (analytics.py:89-118). One grouped pass (the reference's CTE collapses
    * into a single partial+final HashAggregate), then a scalar projection. */
  def funnel(ev: DataFrame): DataFrame =
    withDate(ev)
      .filter(col("user_id").isNotNull)
      .groupBy("event_date")
      .agg(
        countDistinct(when(col("event_type") === "signup", col("user_id")))
          .as("signup_users"),
        countDistinct(when(col("event_type") === "purchase", col("user_id")))
          .as("purchasers"))
      .withColumn("signup_to_purchase_rate",
        when(col("signup_users") === 0, lit(0.0))
          .otherwise(round(col("purchasers") / col("signup_users"), 4)))
      .orderBy("event_date")

  /** A2+G6 — "international revenue" analog: substring date-bucketing over
    * the ISO text form of the timestamp (analytics.py:55-68). */
  def substrRevenue(df: DataFrame, ts: Column, amount: Column): DataFrame =
    df.select(substrDateKey(ts).as("event_date"),
        coalesce(amount, lit(0.0)).as("__amt"))
      .groupBy("event_date")
      .agg(round(sum(col("__amt")), 2).as("revenue"))
      .orderBy("event_date")

  /** Extension — 7-day rolling revenue over the daily series. The window
    * runs over the ALREADY-AGGREGATED daily frame (≤ days rows), so the
    * single-partition ordered window is trivially cheap at any input scale;
    * never window over the raw events. */
  def rollingRevenue(ev: DataFrame, days: Int = 7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("event_date")).rowsBetween(-(days - 1), 0)
    revenue(ev)
      .withColumn(s"rolling_${days}d", round(sum(col("revenue")).over(w), 2))
      .orderBy("event_date")
  }

  /** Extension — ROLLUP over (day, type): per-group, per-day, and grand
    * totals in one pass (partial aggregation still applies; the rollup
    * expansion happens on the collapsed partial rows). */
  def revenueRollup(ev: DataFrame): DataFrame =
    withDate(ev)
      .rollup(col("event_date"), col("event_type"))
      .agg(round(sum(coalesce(col("value"), lit(0.0))), 2).as("revenue"),
        count(lit(1)).as("n_events"),
        grouping_id().cast("bigint").as("gid"))
      .orderBy(col("event_date").asc_nulls_first,
        col("event_type").asc_nulls_first)

  /** Extension — exact interpolated percentiles per type. Exact to match
    * the oracle; at the 100 TB design point swap in approx_percentile
    * (t-digest sketch, mergeable, one pass) when exactness is not
    * contractual. */
  def valuePercentiles(ev: DataFrame): DataFrame =
    ev.groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  /** A1 at the 100 TB design point — HyperLogLog++ DAU. The sketch is
    * mergeable, so the partial (map-side) aggregate collapses each input
    * partition to one ~1.5 KB buffer per day and the shuffle moves sketches,
    * not user ids; `rsd` trades memory for error (default 5%, here 2%).
    * No exact oracle is possible cross-engine (HLL implementations differ);
    * the driver records a rows-only check and `AnalyticsExtSpec` bounds the
    * relative error against the exact A1 locally. */
  def dauApprox(ev: DataFrame, rsd: Double = 0.02): DataFrame =
    withDate(ev)
      .filter(col("user_id").isNotNull)
      .groupBy("event_date")
      .agg(approx_count_distinct(col("user_id"), rsd).as("dau_approx"))
      .orderBy("event_date")

  /** The oracle-able form of the HLL report: exact DAU (the audit column,
    * expressible in any engine) plus a bound flag over the sketch estimate
    * — |approx − exact| ≤ relBound·exact, deterministic for a fixed
    * fixture. Both aggregates run in ONE pass, so the audit costs nothing
    * beyond the exact A1 it already contains; the raw estimate itself is
    * engine-specific and stays spec-bounded (AnalyticsExtSpec). */
  def dauApproxAudit(ev: DataFrame, rsd: Double = 0.02,
                     relBound: Double = 0.10): DataFrame =
    withDate(ev)
      .filter(col("user_id").isNotNull)
      .groupBy("event_date")
      .agg(countDistinct(col("user_id")).as("dau"),
        approx_count_distinct(col("user_id"), rsd).as("__approx"))
      .select(col("event_date"), col("dau"),
        when(abs(col("__approx") - col("dau")) <=
          col("dau") * lit(relBound), lit(1)).otherwise(lit(0))
          .as("approx_in_bound"))
      .orderBy("event_date")

  /** Percentiles at the 100 TB design point — one-pass mergeable
    * approx_percentile sketch instead of the exact sort-based form.
    * Accuracy parameter bounds rank error at 1/accuracy. Rows-only driver
    * check; error bounded against the exact form in AnalyticsExtSpec. */
  def valuePercentilesApprox(ev: DataFrame, accuracy: Int = 10000): DataFrame =
    ev.groupBy("event_type")
      .agg(
        expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(value, 0.9, $accuracy)").as("p90"),
        expr(s"approx_percentile(value, 0.99, $accuracy)").as("p99"))

  /** Oracle-able form of the percentile-sketch report (same audit pattern
    * as [[dauApproxAudit]]/cmsCountsAudit): the exact interpolated
    * percentiles hash-check cross-engine; the sketch estimates collapse to
    * a bound flag — every percentile within relBound of exact, set with
    * ~7× margin over the observed fixture error, deterministic for the
    * fixed fixture. Exact + sketch aggregates run in the ONE group-by
    * pass. */
  def valuePercentilesAudit(ev: DataFrame, accuracy: Int = 10000,
                            relBound: Double = 0.05): DataFrame = {
    def ok(a: Column, e: Column): Column =
      abs(a - e) <= abs(e) * relBound
    ev.groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        expr(s"approx_percentile(value, 0.5, $accuracy)").as("__a50"),
        expr(s"approx_percentile(value, 0.9, $accuracy)").as("__a90"),
        expr(s"approx_percentile(value, 0.99, $accuracy)").as("__a99"))
      .select(col("event_type"), col("p50"), col("p90"), col("p99"),
        when(ok(col("__a50"), col("p50")) && ok(col("__a90"), col("p90")) &&
          ok(col("__a99"), col("p99")), lit(1)).otherwise(lit(0))
          .as("approx_in_bound"))
      .orderBy("event_type")
  }

  /** Extension — lag/lead over per-user event sequences: gap (seconds)
    * since the user's previous event. Window partitions by user_id, so the
    * sort is per-key within the keyed shuffle — fully distributed; the
    * degenerate global-window shape (no partitionBy) is never used on raw
    * events. */
  def eventGaps(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        lag(col("ts"), 1).over(w).as("prev_ts"))
      .withColumn("gap_seconds",
        (col("ts").cast("double") - col("prev_ts").cast("double"))
          .cast("bigint"))
  }

  /** Extension — per-user running purchase total (customer LTV curve).
    * Same keyed-window shape as eventGaps: one shuffle on user_id, ordered
    * running frame, no global sort. */
  def runningUserRevenue(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ev.filter(col("user_id").isNotNull && col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .withColumn("cum_value", round(sum(col("value")).over(w), 2))
  }

  /** Extension — cohort retention: users bucketed by first-seen day, then
    * for each (cohort_date, day_offset) the count of distinct cohort
    * members active on that day. Shuffle shape: the (user, day) distinct
    * and the per-user min both hash-partition on user_id, so the
    * cohort-assignment join reuses that partitioning (no third shuffle);
    * only the final small (cohort, offset) aggregate re-partitions. */
  def retentionCohorts(ev: DataFrame): DataFrame = {
    val active = withDate(ev).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_date")).distinct()
    val cohorts = active.groupBy("user_id")
      .agg(min(col("event_date")).as("cohort_date"))
    active.join(cohorts, "user_id")
      .groupBy(col("cohort_date"),
        datediff(to_date(col("event_date")), to_date(col("cohort_date")))
          .cast("bigint").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_date", "day_offset")
  }

  /** Extension — event-type transition matrix: counts and conditional
    * probabilities of (event_type → next event_type) within each user's
    * timeline. The lead() window shuffles once on user_id; the per-pair
    * aggregate and the per-source normalizing window then run over ≤
    * |types|² rows, so their cost is nil at any input scale. */
  def transitionMatrix(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wType = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    ev.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(wType), 6))
      .orderBy("event_type", "next_type")
  }

  /** Audience-intersection estimate by HLL inclusion–exclusion —
    * [[hllMergeDau]]'s set-algebra extension: |A∩B| from three sketches
    * (est A + est B − est A∪B) against the exact semi-join count. This
    * is how overlapping audiences are sized at 100 TB: each cohort
    * reduces to a ~KB sketch wherever its data lives, the union merges
    * sketches, and no user-id list ever ships. Error compounds through
    * inclusion–exclusion, so the audit bound is deliberately looser
    * (10% + an absolute floor) than the single-sketch 5%. */
  def hllIntersect(ev: DataFrame, lgK: Int = 12): DataFrame = {
    val base = ev.filter(col("user_id").isNotNull)
    val a = base.filter(col("event_type") === "purchase")
      .select(col("user_id"))
    val b = base.filter(col("event_type") === "error")
      .select(col("user_id"))
    val sk = a.agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("ska"))
      .crossJoin(broadcast(
        b.agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("skb"))))
      .select(hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb")))
          .as("est_u"))
    val exactA = a.agg(countDistinct(col("user_id")).as("exact_a"))
    val exactB = b.agg(countDistinct(col("user_id")).as("exact_b"))
    val exactI = a.distinct()
      .join(b.distinct(), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("exact_intersect"))
    exactA.crossJoin(broadcast(exactB)).crossJoin(broadcast(exactI))
      .crossJoin(broadcast(sk))
      .select(col("exact_a"), col("exact_b"), col("exact_intersect"),
        (col("exact_a") + col("exact_b") - col("exact_intersect"))
          .as("exact_union"),
        (abs(col("est_a") + col("est_b") - col("est_u") -
          col("exact_intersect").cast("double")) <=
          greatest(col("exact_intersect").cast("double") * 0.10,
            lit(5.0))).as("est_within_10pct"))
  }

  /** Per-column statistics drift between the first and second halves of
    * the event window — the snapshot-over-snapshot governance audit
    * ([[graft.analytics.StatsAnalytics.analyzeStats]] compares columns
    * WITHIN one snapshot; this compares the same column ACROSS time):
    * row mass, null rate, mean value, and distinct cardinalities per
    * half, as (column, metric) rows with the delta. One conditional
    * aggregate over the corpus after a broadcast midpoint; the halves
    * split at the calendar midpoint so the report is reproducible on
    * any engine. */
  def statsDrift(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("d"), col("value"), col("event_type"),
        col("user_id"))
    val cut = rows.agg(date_add(min(col("d")),
      (datediff(max(col("d")), min(col("d"))) / 2).cast("int")).as("cut"))
    val marked = rows.crossJoin(broadcast(cut))
      .withColumn("h1", col("d") <= col("cut"))
    def cnt(h1: Boolean, pred: Column) =
      sum(when(col("h1") === h1 && pred, 1L).otherwise(0L))
    def dsum(h1: Boolean) =
      sum(when(col("h1") === h1, col("value")).otherwise(lit(0.0))
        .cast("decimal(28,12)"))
    val m = marked.agg(
      cnt(true, lit(true)).as("n1"), cnt(false, lit(true)).as("n2"),
      cnt(true, col("value").isNull).as("nulls1"),
      cnt(false, col("value").isNull).as("nulls2"),
      dsum(true).as("s1"), dsum(false).as("s2"),
      countDistinct(when(col("h1"), col("event_type"))).as("ndv_t1"),
      countDistinct(when(!col("h1"), col("event_type"))).as("ndv_t2"),
      countDistinct(when(col("h1"), col("user_id"))).as("ndv_u1"),
      countDistinct(when(!col("h1"), col("user_id"))).as("ndv_u2"))
      .pinned() // five metric rows re-read ONE aggregated row
    def d(c: Column) = c.cast("double")
    def row(colName: String, metric: String, a: Column,
            bc: Column): DataFrame =
      m.select(lit(colName).as("column_name"), lit(metric).as("metric"),
        r6(a).as("first_half"), r6(bc).as("second_half"),
        r6(bc - a).as("delta"))
    row("*", "row_count", d(col("n1")), d(col("n2")))
      .unionAll(row("value", "null_rate",
        d(col("nulls1")) / d(col("n1")), d(col("nulls2")) / d(col("n2"))))
      .unionAll(row("value", "mean",
        when(col("n1") > col("nulls1"),
          d(col("s1")) / (d(col("n1")) - d(col("nulls1"))))
          .otherwise(lit(0.0)),
        when(col("n2") > col("nulls2"),
          d(col("s2")) / (d(col("n2")) - d(col("nulls2"))))
          .otherwise(lit(0.0))))
      .unionAll(row("event_type", "ndv", d(col("ndv_t1")),
        d(col("ndv_t2"))))
      .unionAll(row("user_id", "ndv", d(col("ndv_u1")), d(col("ndv_u2"))))
      .orderBy("column_name", "metric")
  }

  /** Exponential-decay fit of the pooled retention curve — the scalar
    * the [[retentionCohorts]] triangle exists to produce: pool each
    * day-offset's active users over the cohorts that could have REACHED
    * that offset (right-censoring handled by the observability join —
    * cohort c contributes to offset k only when k days of history
    * exist), then fit ln r_k = a + b·k by OLS over the offsets and
    * report the half-life −ln 2 / b. Everything after the one corpus
    * aggregate runs on the cohort × offset frame (calendar² — tiny);
    * OLS sums go DECIMAL. */
  def retentionHalfLife(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohorts = rows.groupBy(col("user_id")).agg(min(col("d")).as("c"))
    val tri = rows.join(cohorts, Seq("user_id"))
      .groupBy(col("c"), datediff(col("d"), col("c")).cast("long").as("k"))
      .agg(countDistinct(col("user_id")).as("n"))
      .pinned() // offsets, bases, and L all read this frame
    val base = tri.filter(col("k") === 0L)
      .select(col("c"), col("n").as("b"))
    val lastDay = tri.agg(max(date_add(col("c"),
      col("k").cast("int"))).as("last_day"))
    val offsets = tri.select(col("k")).distinct()
    val den = base.crossJoin(broadcast(offsets))
      .crossJoin(broadcast(lastDay))
      .filter(datediff(col("last_day"), col("c")) >= col("k"))
      .groupBy(col("k")).agg(sum(col("b")).as("den"))
    val num = tri.groupBy(col("k")).agg(sum(col("n")).as("num"))
    def d(c: Column) = c.cast("double")
    val curve = num.join(den, Seq("k"))
      .filter(col("k") >= 1L && col("num") > 0L)
      .select(d(col("k")).as("x"),
        log(d(col("num")) / d(col("den"))).as("y"))
    def dec(c: Column) = c.cast("decimal(28,12)")
    val m = curve.agg(count(lit(1)).as("n_offsets"),
      sum(dec(col("x"))).cast("double").as("sx"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum(dec(col("x") * col("x"))).cast("double").as("sxx"),
      sum(dec(col("x") * col("y"))).cast("double").as("sxy"))
    val n = d(col("n_offsets"))
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    m.select(col("n_offsets"), r6(slope).as("slope"),
      r6((col("sy") - slope * col("sx")) / n).as("intercept"),
      r6(when(slope < 0.0, -log(lit(2.0)) / slope).otherwise(lit(0.0)))
        .as("half_life_days"))
  }

  /** Entropy rate of the event-type Markov chain — the scalar
    * [[transitionMatrix]] compresses to: how predictable is the NEXT
    * event given the current one, in bits, against the marginal entropy
    * of ignoring the current state. The predictability gain
    * (H_marginal − H_rate) is the mutual information between adjacent
    * events — the number that says whether sequence models have
    * anything to learn from this stream at all. One corpus shuffle (the
    * per-user lead window, user-partitioned); every aggregate after it
    * runs on the ≤|types|² transition census; entropy terms go DECIMAL. */
  def markovEntropy(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cells = ev.filter(col("user_id").isNotNull)
      .select(col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .pinned() // four census consumers; one corpus window pass
    val rowTot = cells.groupBy("event_type").agg(sum(col("n")).as("ni"))
    val glob = cells.agg(sum(col("n")).as("nn"),
      countDistinct(col("event_type")).as("k"))
    def d(c: Column) = c.cast("double")
    val ln2 = lit(math.log(2.0))
    val terms = cells.join(broadcast(rowTot), Seq("event_type"))
      .crossJoin(broadcast(glob))
      .select(col("nn"), col("k"),
        ((d(col("n")) / d(col("nn"))) *
          (log(d(col("ni")) / d(col("n"))) / ln2))
          .cast("decimal(28,12)").as("rate_t"))
      .groupBy(col("nn"), col("k"))
      .agg(sum(col("rate_t")).cast("double").as("h_rate"))
    val marg = cells.groupBy("event_type").agg(sum(col("n")).as("ni"))
      .crossJoin(broadcast(glob.select(col("nn").as("nn2"))))
      .select(((d(col("ni")) / d(col("nn2"))) *
        (log(d(col("nn2")) / d(col("ni"))) / ln2))
        .cast("decimal(28,12)").as("m_t"))
      .agg(sum(col("m_t")).cast("double").as("h_marginal"))
    terms.crossJoin(broadcast(marg))
      .select(col("nn").as("n_transitions"), col("k").as("n_states"),
        r6(col("h_marginal")).as("h_marginal"),
        r6(col("h_rate")).as("h_rate"),
        r6(col("h_marginal") - col("h_rate")).as("info_gain"))
  }

  /** Out-of-order-arrival audit — the batch-side measurement that picks
    * a streaming watermark delay honestly: ordering each user's events
    * by event_id (the arrival-order proxy), how often does event time
    * step BACKWARD between consecutive arrivals, and by how much? The
    * answer (backward rate, mean and max regression in seconds) is
    * exactly the allowed-lateness budget `withWatermark` needs. One
    * user-partitioned lag window (the corpus' one shuffle); everything
    * after collapses map-side; µs regressions sum in DECIMAL. */
  def oooAudit(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("event_id"))
    val pairs = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select((col("prev_us") - col("us")).as("back_us"))
    def d(c: Column) = c.cast("double")
    val m = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("back_us") > 0L, 1L).otherwise(0L)).as("n_backward"),
      sum(when(col("back_us") > 0L, col("back_us")).otherwise(0L))
        .as("sum_back_us"),
      max(when(col("back_us") > 0L, col("back_us")).otherwise(0L))
        .as("max_back_us"))
    m.select(col("n_pairs"), col("n_backward"),
      r6(d(col("n_backward")) / d(col("n_pairs"))).as("backward_rate"),
      r6(when(col("n_backward") > 0L,
        d(col("sum_back_us")) / (d(col("n_backward")) * lit(1.0e6)))
        .otherwise(lit(0.0))).as("mean_backward_s"),
      r6(d(col("max_back_us")) / lit(1.0e6)).as("max_backward_s"))
  }

  /** Watermark-delay what-if sweep — [[oooAudit]] priced into the
    * decision: for each candidate `withWatermark` delay, what fraction
    * of events would arrive LATE (event time older than the running
    * per-user event-time high-water mark, by more than the delay) and
    * be dropped by a streaming aggregate? An event is compared against
    * the max over STRICTLY PRECEDING arrivals (arrival order =
    * event_id), mirroring watermark semantics where an event cannot
    * lag itself. All delays are conditional sums over ONE
    * user-partitioned running-max pass — the `q_length_sweep`
    * discipline: the sweep costs the same single pass as evaluating
    * one delay. */
  def watermarkSweep(ev: DataFrame,
                     delaysSec: Seq[Long] = Seq(0L, 60L, 600L, 3600L))
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val staged = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("hwm", max(col("us")).over(w))
      .filter(col("hwm").isNotNull)
      .select((col("hwm") - col("us")).as("late_us"))
    val aggs = Seq(count(lit(1)).as("n_events")) ++ delaysSec.map { t =>
      sum(when(col("late_us") > t * 1000000L, 1L).otherwise(0L))
        .as(s"drop_$t")
    }
    val m = staged.agg(aggs.head, aggs.tail: _*).pinned()
    delaysSec.map { t =>
      m.select(lit(t).as("delay_s"), col("n_events"),
        col(s"drop_$t").as("n_dropped"),
        r6(col(s"drop_$t").cast("double") /
          col("n_events").cast("double")).as("drop_rate"))
    }.reduce(_ unionAll _).orderBy("delay_s")
  }

  /** Weekday-seasonality strength of the daily-revenue series (Hyndman's
    * F_s = max(0, 1 − Var(residual)/Var(series)) with the weekday-mean
    * seasonal component): the scalar that says whether the weekly cycle
    * [[seasonality]] tabulates actually explains variance — the gate
    * before anyone deseasonalizes a monitor baseline. Day frame only
    * after one corpus aggregate; weekday means broadcast back; variance
    * sums in DECIMAL. */
  def seasonalStrength(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(28,12)")).cast("double").as("v"))
      .withColumn("wd", dayofweek(col("d")))
      .pinned() // weekday means and residuals share one pass
    val wk = daily.groupBy("wd")
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("s"))
    def d(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast("decimal(28,12)")
    val joined = daily.join(broadcast(wk), Seq("wd"))
      .select(col("v"), (col("v") - col("s")).as("r"))
    val m = joined.agg(count(lit(1)).as("n_days"),
      sum(dec(col("v"))).as("sv"), sum(dec(col("v") * col("v"))).as("svv"),
      sum(dec(col("r"))).as("sr"), sum(dec(col("r") * col("r"))).as("srr"))
    val n = d(col("n_days"))
    val varV = d(col("svv")) / n - (d(col("sv")) / n) * (d(col("sv")) / n)
    val varR = d(col("srr")) / n - (d(col("sr")) / n) * (d(col("sr")) / n)
    m.select(col("n_days"), r6(varV).as("var_total"),
      r6(varR).as("var_resid"),
      // flat series (varV = 0): 0/0 is NaN and NaN-vs-greatest semantics
      // differ across engines — define strength as 0 explicitly
      r6(when(varV > lit(0.0),
        greatest(lit(0.0), lit(1.0) - varR / varV)).otherwise(lit(0.0)))
        .as("strength"))
  }

  /** Extension — first/last event per type via min_by/max_by with a
    * composite (ts, event_id) ordering struct: one aggregate pass, no
    * window, no sort — the struct comparison gives a total order so ties
    * on ts are broken deterministically by event_id. */
  def firstLastEvents(ev: DataFrame): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    ev.groupBy("event_type")
      .agg(min_by(col("event_id"), ord).as("first_event_id"),
        max_by(col("event_id"), ord).as("last_event_id"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Extension — UNPIVOT: the wide per-day event-type counts (the pivot
    * query's output) melted back to long form, zeros preserved. The unpivot
    * is a per-row Expand over the ALREADY-AGGREGATED wide frame (≤ days
    * rows), so its cost is nil; the data-sized work is the same single
    * grouped pass as the pivot. Long↔wide round-trips are schema plumbing,
    * not extra shuffles. */
  def unpivotEventCounts(ev: DataFrame, types: Seq[String]): DataFrame = {
    val wide = withDate(ev)
      .groupBy("event_date")
      .pivot("event_type", types)
      .count()
      .na.fill(0L)
    wide.unpivot(Array(col("event_date")), types.map(col).toArray,
        "event_type", "n_events")
      .orderBy("event_date", "event_type")
  }

  /** Extension — per-user calendar-gap detection: which days inside each
    * user's [first, last] activity span saw no events. `sequence` + explode
    * materializes each user's calendar (bounded by the span in DAYS, not by
    * event volume — at 100 TB of events a year-long span is still ≤ 366
    * rows per user), then a left-anti join against the distinct active days
    * finds the holes. Both sides hash-partition on user_id, so the anti
    * join and the summary aggregate reuse one partitioning. */
  def dateGaps(ev: DataFrame): DataFrame = {
    val active = ev.filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val bounds = active.groupBy("user_id")
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"),
        count(lit(1)).as("active_days"))
    val calendar = bounds.select(col("user_id"),
      explode(sequence(col("lo"), col("hi"))).as("d"))
    val missing = calendar.join(active, Seq("user_id", "d"), "left_anti")
      .groupBy("user_id")
      .agg(count(lit(1)).as("missing_days"),
        min(col("d")).as("first_missing"))
    bounds.join(missing, Seq("user_id"), "left")
      .select(col("user_id"), col("active_days"),
        (datediff(col("hi"), col("lo")) + 1).cast("bigint").as("span_days"),
        coalesce(col("missing_days"), lit(0L)).as("missing_days"),
        date_format(col("first_missing"), "yyyy-MM-dd").as("first_missing"))
      .orderBy("user_id")
  }

  /** A1 at the 100 TB design point, PROVING mergeability — per-day
    * Datasketches HLL sketches built in one pass, then union-merged into a
    * month total WITHOUT re-touching the raw data. This is the two-level
    * shape a 100 TB rollup needs: daily partitions each reduce to a ~1 KB
    * sketch, and any coarser rollup (week/month/all-time) merges sketches,
    * not user ids. The oracle checks the exact side plus a 5% error bound
    * on the merged estimate (lgK=12 → ~1.6% standard error), so the
    * cross-engine hash compare stays deterministic. */
  def hllMergeDau(ev: DataFrame, lgK: Int = 12): DataFrame = {
    val daily = withDate(ev)
      .filter(col("user_id").isNotNull)
      .groupBy("event_date")
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
    val exact = ev.filter(col("user_id").isNotNull)
      .agg(countDistinct(col("user_id")).as("exact_total"))
    daily
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("merged_est"))
      .crossJoin(exact)
      .select(col("n_days"), col("exact_total"),
        (abs(col("merged_est") - col("exact_total")) <=
          col("exact_total") * 0.05).as("merged_within_5pct"))
  }

  /** Extension — per-user forward fill: null `value`s inherit the user's
    * most recent non-null value (time-series gap repair before training /
    * feature extraction). `last(_, ignoreNulls)` over a running per-user
    * frame — one shuffle on user_id, per-key ordered scan, no global sort;
    * the same keyed-window shape as eventGaps. */
  def forwardFill(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ev.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
        last(col("value"), ignoreNulls = true).over(w).as("filled_value"))
  }

  /** Count-min-sketch frequency estimates vs exact counts, per event
    * type. The CMS is Spark's built-in mergeable sketch (map-side partial
    * sketches, one tiny merge at the driver — the 100 TB path for "how
    * often does each of these keys occur" when the key domain is too wide
    * to group exactly); the exact counts here are the audit column. CMS
    * guarantees est ≥ exact and, with prob. `confidence`,
    * est ≤ exact + eps·N — asserted in the spec, not oracle-able
    * cross-engine (rows-only driver check, like the HLL/t-digest
    * variants). Fixed seed keeps the report deterministic. */
  def cmsCounts(ev: DataFrame, eps: Double = 0.0001,
                confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val sketch = ev.stat.countMinSketch(col("event_type"), eps, confidence,
      seed)
    val exact = ev.groupBy("event_type")
      .agg(count(lit(1)).as("exact_n")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    exact.toSeq
      .map { case (t, n) => (t, n, sketch.estimateCount(t)) }
      .toDF("event_type", "exact_n", "est_n")
      .withColumn("overcount", col("est_n") - col("exact_n"))
      .orderBy("event_type")
  }

  /** Oracle-able CMS report: the exact audit counts (cross-engine
    * expressible) plus a bound flag — est ≥ exact (hard CMS guarantee)
    * AND est ≤ exact + ⌈eps·N⌉ (the confidence bound, deterministic here
    * because the sketch seed is fixed). The raw estimates stay
    * spec-bounded (Round5OpsSpec). */
  def cmsCountsAudit(ev: DataFrame, eps: Double = 0.0001,
                     confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val full = cmsCounts(ev, eps, confidence, seed)
    val n = ev.count()
    val cap = math.ceil(eps * n).toLong
    full.select(col("event_type"), col("exact_n"),
      when(col("est_n") >= col("exact_n") &&
        col("est_n") <= col("exact_n") + lit(cap), lit(1)).otherwise(lit(0))
        .as("est_in_bound"))
      .orderBy("event_type")
  }

  /** Peak concurrency per day — the classic interval sweep-line, fully
    * relational: collapse each user's day to an activity interval
    * [min ts, max ts], explode each interval to a +1 (start) and −1 (end)
    * boundary event, running-sum the deltas in (ts, +1-before-−1) order
    * within the day, and take the day's max. Ordering +1 before −1 at
    * equal timestamps makes touching intervals count as concurrent (and
    * makes single-event users count as present), and makes the running
    * max deterministic under ties. The window partitions BY DAY, so at
    * 100 TB each day's sweep is an independent partition — no global
    * sort — and the sweep input is 2 rows per user-day, already two
    * aggregation layers smaller than the raw events. */
  def peakConcurrency(ev: DataFrame): DataFrame = {
    val iv = ev.filter(col("user_id").isNotNull)
      .withColumn("event_date", eventDate(col("ts")))
      .groupBy("event_date", "user_id")
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val pts = iv.select(col("event_date"), col("s").as("t"),
        lit(1L).as("delta"))
      .unionAll(iv.select(col("event_date"), col("e").as("t"),
        lit(-1L).as("delta")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_date").orderBy(col("t").asc, col("delta").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    pts.select(col("event_date"), sum(col("delta")).over(w).as("conc"))
      .groupBy("event_date")
      .agg(max(col("conc")).as("peak_concurrent"))
      .orderBy("event_date")
  }

  /** A7 — single-pass quality metrics (transform.py:104-119, quality.py):
    * one aggregate, no repeated scans. */
  def qualityMetrics(ev: DataFrame, allowedTypes: Seq[String]): DataFrame =
    ev.agg(
      count(lit(1)).as("rows_total"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user_rows"),
      countDistinct(col("user_id")).as("distinct_users"),
      sum(when(!col("event_type").isin(allowedTypes.map(lit): _*), 1L)
        .otherwise(0L)).as("invalid_type_rows"),
      round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))

  /** Signup→purchase conversion-time distribution: per user, the delay
    * from FIRST signup to FIRST purchase (users whose first purchase
    * precedes their first signup are excluded — that conversion wasn't
    * driven by the signup). Deltas are exact integer MICROSECONDS
    * (`unix_micros` ≡ DuckDB `epoch_us`; second-granularity functions
    * would truncate sub-second parts differently), so the interpolated
    * percentiles are bit-identical across engines. One shuffle on
    * user_id; the percentile runs over the |users|-row delta frame. */
  /** Day-of-week × hour activity profile with share-of-total — the
    * seasonality heat grid behind load forecasting and anomaly
    * baselines. The weekday comes from integer epoch-day arithmetic
    * ((days + 4) mod 7, 0 = Sunday): `dayofweek`-style functions number
    * days differently across engines, epoch math is portable. One
    * corpus aggregate into ≤ 168 cells; the total is a one-row
    * broadcast. */
  def seasonality(ev: DataFrame): DataFrame = {
    val dow = ((floor(unix_micros(col("ts")) / lit(86400000000L)) +
      lit(4)) % 7).cast("int").as("dow")
    val cells = ev.select(dow, hour(col("ts")).as("hr"))
      .groupBy("dow", "hr")
      .agg(count(lit(1)).as("n_events"))
    cells.crossJoin(broadcast(
        cells.agg(sum(col("n_events")).as("n_total"))))
      .select(col("dow"), col("hr"), col("n_events"),
        round(col("n_events") / col("n_total"), 6).as("share"))
      .orderBy("dow", "hr")
  }

  /** Per-user time-weighted average value (TWAP): each event's value
    * holds until the user's next event, so the mean is weighted by the
    * holding interval — the honest summary when sampling is irregular
    * (a value held for an hour should not count like one held for a
    * second). Weights are exact integer microsecond deltas; the weighted
    * sum goes through decimal so the per-user TWAP is order-stable.
    * Users with a single event (zero span) are excluded. One shuffle on
    * user_id for the window; the final aggregate reuses the same
    * partitioning. */
  def twapByUser(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val staged = ev
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("t"))
      .withColumn("t_next", lead(col("t"), 1).over(w))
      .filter(col("t_next").isNotNull)
    staged.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum((col("value") * (col("t_next") - col("t")))
          .cast("decimal(38,6)")).as("wsum"),
        sum(col("t_next") - col("t")).as("span_us"))
      .filter(col("span_us") > 0)
      .select(col("user_id"), col("n_intervals"),
        round(col("wsum").cast("double") / col("span_us"), 6).as("twap"))
      .orderBy("user_id")
  }

  /** Multi-touch attribution: each purchase's value is split linearly
    * across the user's view/click touches in the preceding `windowDays`
    * (touch-inclusive of the purchase instant); purchases with NO touch
    * in the window credit a synthetic `direct` channel in full. Reports
    * per-channel credited revenue and how many purchases each channel
    * participated in — the standard marketing question ("what did the
    * clicks actually buy?") the reference's funnel (analytics.py:90-118)
    * stops short of.
    *
    * Scale shape: both sides prune to 3–4 columns before the user-keyed
    * join; the join fan-out is bounded by per-user activity in a 7-day
    * window (per-user-bounded, like sessionize — salt the key if one
    * user is a bot). The channel domain is fixed, so the per-purchase
    * channel counts AND total collapse in ONE purchase-keyed aggregate
    * as conditional sums (no window, no second shuffle of the purchase
    * key, no sort); a bounded array explode then unpivots the credits.
    * Per-row credit `value·cnt/n` is the same IEEE expression both
    * engines evaluate; the cross-purchase sum accumulates
    * DECIMAL(28,12) — exact, so the 2dp round is partition-order-
    * independent. */
  def attribution(ev: DataFrame, windowDays: Int = 7): DataFrame = {
    val winUs = windowDays * 86400L * 1000000L
    val p = ev.filter(col("user_id").isNotNull &&
        col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_us"), col("value"))
    val t = ev.filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), unix_micros(col("ts")).as("t_us"),
        col("event_type").as("channel"))
    val per = p.join(t,
        col("p_user") === col("t_user") && col("t_us") <= col("p_us") &&
          col("t_us") >= col("p_us") - lit(winUs), "left")
      .groupBy(col("p_id"), col("value"))
      .agg(sum(when(col("channel") === "view", 1L).otherwise(0L))
          .as("n_view"),
        sum(when(col("channel") === "click", 1L).otherwise(0L))
          .as("n_click"))
    val n = col("n_view") + col("n_click")
    // ANSI guard: the n = 0 structs are filtered out below, but the
    // division still evaluates — NULL divisor instead of a 0-divide
    val nSafe = when(n === 0L, lit(null)).otherwise(n)
    val credited = per.select(explode(filter(array(
        struct(lit("view").as("channel"),
          (col("value") * col("n_view") / nSafe).as("credit"),
          col("n_view").as("cnt")),
        struct(lit("click").as("channel"),
          (col("value") * col("n_click") / nSafe).as("credit"),
          col("n_click").as("cnt")),
        struct(lit("direct").as("channel"), col("value").as("credit"),
          when(n === 0L, 1L).otherwise(0L).as("cnt"))),
        s => s.getField("cnt") > 0L)).as("e"))
      .select(col("e.channel").as("channel"), col("e.credit").as("credit"))
    credited.groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("credit").cast("decimal(28,12)")), 2).cast("double")
          .as("credit"))
      .orderBy("channel")
  }

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution — the
    * position-weighted member of the attribution family beside
    * [[attribution]]'s linear split, [[markovAttribution]]'s removal
    * effects, and [[shapleyAttribution]]'s coalition values: the FIRST
    * touch in the purchase's lookback window earns 40%, the LAST 40%,
    * and the middles split the remaining 20% evenly; single-touch paths
    * take 100%, touchless purchases credit `direct` in full. Touch
    * order is (ts, channel) — the channel tiebreak makes equal-
    * timestamp paths deterministic on any engine.
    *
    * Scale shape: the same bounded per-purchase touch join as
    * [[attribution]]; the rank/count windows partition by PURCHASE
    * (per-purchase-bounded — never a global window), per-row credit is
    * the same IEEE expression on both engines, and the cross-purchase
    * sum folds DECIMAL(28,12). The middle-split divisor is
    * greatest-guarded (codegen CSE + ANSI — the waldIv discipline). */
  def positionAttribution(ev: DataFrame, windowDays: Int = 7): DataFrame = {
    val winUs = windowDays * 86400L * 1000000L
    val p = ev.filter(col("user_id").isNotNull &&
        col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_us"), col("value"))
    val t = ev.filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), unix_micros(col("ts")).as("t_us"),
        col("event_type").as("channel"))
    val joined = p.join(t,
      col("p_user") === col("t_user") && col("t_us") <= col("p_us") &&
        col("t_us") >= col("p_us") - lit(winUs), "left")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_id")).orderBy(col("t_us"), col("channel"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_id"))
    val ranked = joined
      .withColumn("rk", when(col("channel").isNotNull,
        row_number().over(wOrd)))
      .withColumn("n", sum(when(col("channel").isNotNull, 1L)
        .otherwise(0L)).over(wAll))
    // n = 1 → 100%; n = 2 → 50/50 (the credits must still sum to 1 —
    // 40/40 would silently drop a fifth of the purchase); n ≥ 3 →
    // 40/20.../40
    val weight = when(col("n") === 1L, lit(1.0))
      .when(col("n") === 2L, lit(0.5))
      .when(col("rk") === 1L || col("rk") === col("n"), lit(0.4))
      .otherwise(lit(0.2) /
        greatest(col("n") - 2L, lit(1L)).cast("double"))
    val credited = ranked.select(col("p_id"),
      coalesce(col("channel"), lit("direct")).as("channel"),
      when(col("channel").isNotNull, col("value") * weight)
        .otherwise(col("value")).as("credit"))
    credited.groupBy("channel")
      .agg(countDistinct(col("p_id")).as("n_purchases"),
        count(lit(1)).as("n_touches"),
        round(sum(col("credit").cast("decimal(28,12)")), 2).cast("double")
          .as("credit"))
      .orderBy("channel")
  }

  /** Pairwise audience overlap: for every pair of event types, the
    * Jaccard similarity of their DISTINCT user sets — "do the people who
    * error also purchase?". The per-user type set is bounded by the type
    * domain (≤ 5 here), so the user-keyed self-join fans out ≤ |types|²
    * rows per user — bounded like [[attribution]]'s touch join, never
    * quadratic in users. Counts are exact integers; the ratio takes the
    * portable floor round. */
  def audienceOverlap(ev: DataFrame): DataFrame = {
    val tu = ev.filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type").as("type_a"), col("user_id").as("u"))
      .distinct()
    val sizes = tu.groupBy("type_a").agg(count(lit(1)).as("n"))
    val both = tu
      .join(tu.select(col("type_a").as("type_b"), col("u")), Seq("u"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    both
      .join(sizes.select(col("type_a"), col("n").as("n_a")), Seq("type_a"))
      .join(sizes.select(col("type_a").as("type_b"), col("n").as("n_b")),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        r6(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"))
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** Monthly stickiness (avg DAU / MAU) — the classic engagement ratio:
    * 1.0 means every monthly user shows up every day. Two exact
    * distinct aggregates (per-day and per-month user sets) joined on
    * the month; `avg_dau / mau` is a rational of integers, so both
    * ratios take the portable floor round. The 100 TB swap is
    * approx_count_distinct on both legs when the gate is advisory. */
  def stickiness(ev: DataFrame): DataFrame = {
    val base = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(trunc(col("ts").cast("date"), "month").as("month"),
        to_date(col("ts")).as("d"), col("user_id"))
    val dau = base.groupBy("month", "d")
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val mau = base.groupBy("month")
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, Seq("month"))
      .select(col("month"), col("n_days"), col("mau"),
        r6(col("sum_dau").cast("double") / col("n_days")).as("avg_dau"),
        r6(col("sum_dau").cast("double") / col("n_days") / col("mau"))
          .as("stickiness"))
      .orderBy("month")
  }

  def conversionTime(ev: DataFrame): DataFrame = {
    val per = ev
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("signup", "purchase"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("s"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p"))
      .filter(col("s").isNotNull && col("p").isNotNull &&
        col("p") >= col("s"))
      .select(((unix_micros(col("p")) - unix_micros(col("s"))) / 1000000.0)
        .as("delta_sec"))
    per.agg(
      count(lit(1)).as("n_users"),
      round(percentile(col("delta_sec"), lit(0.25)), 2).as("p25_sec"),
      round(percentile(col("delta_sec"), lit(0.5)), 2).as("p50_sec"),
      round(percentile(col("delta_sec"), lit(0.75)), 2).as("p75_sec"),
      round(percentile(col("delta_sec"), lit(0.9)), 2).as("p90_sec"))
  }

  /** Seasonality-adjusted volume anomalies: each (day, hour) bucket's
    * event count is scored against the baseline of the SAME weekday ×
    * hour cell across the corpus — the monitoring alert that does not
    * page every Monday morning the way a raw z-score over all hours
    * does ([[seasonality]] builds the heat grid; this flags deviations
    * from it). Cell mean/variance come from exact integer sums over the
    * (day, hour) count frame (one corpus aggregate, then day-frame
    * arithmetic); a bucket flags when |count − mean| > 3σ with the
    * portable rational z. Cells with < 3 observed days or zero variance
    * cannot flag (insufficient baseline). Output: the flagged buckets. */
  def seasonalAnomaly(ev: DataFrame, zMax: Double = 3.0): DataFrame = {
    val dow = ((floor(unix_micros(col("ts")) / lit(86400000000L)) +
      lit(4)) % 7).cast("int")
    val perBucket = ev.filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"), dow.as("dow"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    // cell sums INCLUDE every bucket once; each bucket then scores
    // against the LEAVE-ONE-OUT mean/variance of its cell (itself
    // subtracted from the sums) — an in-baseline z is mathematically
    // capped near √n and can never flag on the ~4 observations a
    // (weekday × hour) cell has over a month of days
    val cellStats = perBucket.groupBy("dow", "hr")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .filter(col("n_days") >= 4)
    val np = (col("n_days") - lit(1)).cast("double")
    val looMean = (col("sc") - col("c")).cast("double") / np
    val looVar = (np * (col("scc").cast("double") -
        col("c").cast("double") * col("c").cast("double")) -
      (col("sc") - col("c")).cast("double") *
        (col("sc") - col("c")).cast("double")) /
      (np * (np - lit(1.0)))
    perBucket.join(cellStats, Seq("dow", "hr"))
      .withColumn("loo_mean", looMean)
      .withColumn("loo_var", looVar)
      .filter(col("loo_var") > 0.0)
      .withColumn("z",
        (col("c").cast("double") - col("loo_mean")) / sqrt(col("loo_var")))
      .filter(abs(col("z")) > zMax)
      .select(col("d"), col("dow"), col("hr"), col("c"),
        r6(col("loo_mean")).as("cell_mean"), r6(col("z")).as("z"))
      .orderBy("d", "hr")
  }

  /** Recency-threshold baseline evaluated on the [[trainingSet]] — the
    * "beat this first" yardstick every churn model must clear before
    * its complexity is justified: predict ACTIVE iff the user was seen
    * within `recencyCut` days of the cutoff, score against the
    * point-in-time label. Confusion counts, precision/recall/F1 (zero-
    * guarded) and accuracy in one aggregate over the user frame —
    * exact-integer rationals throughout. */
  def churnBaseline(ev: DataFrame, horizonDays: Int = 14,
                    recencyCut: Long = 7L): DataFrame = {
    val ts = trainingSet(ev, horizonDays)
      .withColumn("pred", (col("recency_days") <= recencyCut).cast("int"))
    val m = ts.agg(count(lit(1)).as("n_users"),
      sum(when(col("pred") === 1 && col("label_active") === 1, 1L)
        .otherwise(0L)).as("tp"),
      sum(when(col("pred") === 1 && col("label_active") === 0, 1L)
        .otherwise(0L)).as("fp"),
      sum(when(col("pred") === 0 && col("label_active") === 1, 1L)
        .otherwise(0L)).as("fn"),
      sum(when(col("pred") === 0 && col("label_active") === 0, 1L)
        .otherwise(0L)).as("tn"))
    def d(c: Column) = c.cast("double")
    val prec = when(col("tp") + col("fp") > 0,
      d(col("tp")) / (d(col("tp")) + d(col("fp")))).otherwise(lit(0.0))
    val rec = when(col("tp") + col("fn") > 0,
      d(col("tp")) / (d(col("tp")) + d(col("fn")))).otherwise(lit(0.0))
    m.select(col("n_users"), col("tp"), col("fp"), col("fn"), col("tn"),
      r6(prec).as("precision"), r6(rec).as("recall"),
      r6(when(prec + rec > lit(0.0),
        lit(2.0) * prec * rec / (prec + rec)).otherwise(lit(0.0)))
        .as("f1"),
      r6((d(col("tp")) + d(col("tn"))) / d(col("n_users")))
        .as("accuracy"))
  }

  /** Matthews correlation coefficient + balanced accuracy + Youden's J
    * for the [[churnBaseline]] classifier — the prevalence-robust
    * scorecard precision/recall/F1 cannot give (F1 ignores true
    * negatives entirely; on an 80%-active fixture "predict everyone
    * active" scores a flattering F1 and an honest MCC≈0). Identical
    * point-in-time confusion construction, then three closed-form
    * scalars over the four integer cells: MCC = (tp·tn − fp·fn)/
    * √((tp+fp)(tp+fn)(tn+fp)(tn+fn)) (0 when any margin is empty — the
    * standard convention), balanced accuracy = (TPR+TNR)/2, J = TPR +
    * TNR − 1. One user-frame aggregate; nothing data-sized after it. */
  def mccReport(ev: DataFrame, horizonDays: Int = 14,
                recencyCut: Long = 7L): DataFrame = {
    val ts = trainingSet(ev, horizonDays)
      .withColumn("pred", (col("recency_days") <= recencyCut).cast("int"))
    val m = ts.agg(count(lit(1)).as("n_users"),
      sum(when(col("pred") === 1 && col("label_active") === 1, 1L)
        .otherwise(0L)).as("tp"),
      sum(when(col("pred") === 1 && col("label_active") === 0, 1L)
        .otherwise(0L)).as("fp"),
      sum(when(col("pred") === 0 && col("label_active") === 1, 1L)
        .otherwise(0L)).as("fn"),
      sum(when(col("pred") === 0 && col("label_active") === 0, 1L)
        .otherwise(0L)).as("tn"))
    def d(c: Column) = c.cast("double")
    val denom = d(col("tp") + col("fp")) * d(col("tp") + col("fn")) *
      d(col("tn") + col("fp")) * d(col("tn") + col("fn"))
    val mcc = when(denom > 0.0,
      (d(col("tp")) * d(col("tn")) - d(col("fp")) * d(col("fn"))) /
        sqrt(denom)).otherwise(lit(0.0))
    val tpr = when(col("tp") + col("fn") > 0,
      d(col("tp")) / d(col("tp") + col("fn"))).otherwise(lit(0.0))
    val tnr = when(col("tn") + col("fp") > 0,
      d(col("tn")) / d(col("tn") + col("fp"))).otherwise(lit(0.0))
    m.select(col("n_users"), col("tp"), col("fp"), col("fn"), col("tn"),
      r6(mcc).as("mcc"),
      r6((tpr + tnr) / lit(2.0)).as("balanced_accuracy"),
      r6(tpr + tnr - lit(1.0)).as("youden_j"))
  }

  /** Daily OHLC + VWAP candles over purchase values — the time-series
    * summary [[twap]] and the forecasting family read per bucket,
    * produced WITHOUT any window: open/close resolve through two levels
    * of deterministic arg-extrema (min_by/max_by), each level keyed by a
    * column that is UNIQUE within its group, so no tiebreak ambiguity
    * survives — (1) per (day, ts): first/last value by event_id
    * (event_id is unique), (2) per day: by ts (unique after level 1).
    * Both levels are map-side-combining aggregates; at 100 TB the candle
    * frame is day-cardinality and the corpus shuffles once on (day, ts)
    * pre-aggregation, then once on day. Totals sum in DECIMAL; VWAP here
    * degenerates to the value mean (unit volume per trade) and ships
    * r6-rounded. */
  def ohlcDaily(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .select(to_date(col("ts")).as("d"), col("ts"), col("event_id"),
        col("value"))
    val perTs = rows.groupBy(col("d"), col("ts"))
      .agg(min_by(col("value"), col("event_id")).as("ov"),
        max_by(col("value"), col("event_id")).as("cv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"),
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(28,12)")).as("sv"))
    perTs.groupBy(col("d"))
      .agg(min_by(col("ov"), col("ts")).as("open"),
        max_by(col("cv"), col("ts")).as("close"),
        min(col("mn")).as("low"), max(col("mx")).as("high"),
        sum(col("cnt")).as("n_trades"),
        sum(col("sv")).as("svd"))
      .select(col("d"), col("open"), col("high"), col("low"), col("close"),
        col("n_trades"),
        round(col("svd"), 2).cast("double").as("total"),
        r6(col("svd").cast("double") / col("n_trades").cast("double"))
          .as("vwap"))
      .orderBy("d")
  }

  /** Wilson-score 95% interval on the corpus signup→purchase conversion
    * rate — the uncertainty the [[funnel]] report needs before anyone
    * compares two of its rates: unlike the normal approximation, Wilson
    * stays inside [0,1] and behaves at small n or extreme p. One
    * aggregate builds (n signups, k converters) from conditional exact
    * distincts; the interval is scalar double arithmetic (±, ×, ÷,
    * sqrt — all correctly rounded, hence engine-exact). */
  def funnelCi(ev: DataFrame): DataFrame = {
    val m = ev.filter(col("user_id").isNotNull)
      .agg(
        countDistinct(when(col("event_type") === "signup",
          col("user_id"))).as("n_signup"),
        countDistinct(when(col("event_type") === "purchase",
          col("user_id"))).as("n_purchase"))
    val z = lit(1.96)
    val n = col("n_signup").cast("double")
    val p = col("n_purchase").cast("double") / n
    val denom = lit(1.0) + z * z / n
    val center = (p + z * z / (lit(2.0) * n)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / n +
      z * z / (lit(4.0) * n * n)) / denom
    m.select(col("n_signup"), col("n_purchase"),
      r6(p).as("rate"),
      r6(center - half).as("wilson_lo"),
      r6(center + half).as("wilson_hi"))
  }

  /** Temporal-split leakage audit — the eval-design check beside
    * [[trainingSet]]'s builder: with a time cutoff between train and
    * test, how many entities SPAN both sides (their test rows are
    * scored by a model that saw their train behaviour — fine for
    * forecasting, leakage for user-level generalization claims), how
    * many are test-only cold starts, and what share of test EVENTS
    * belongs to seen-in-train users. One per-user conditional aggregate
    * plus a one-row rollup; every output is a rational of exact
    * integers. */
  def temporalLeakage(ev: DataFrame, horizonDays: Int = 14): DataFrame = {
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cut = rows.agg(date_sub(max(col("d")), horizonDays).as("cutoff"))
    val per = rows.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(sum(when(col("d") <= col("cutoff"), 1L).otherwise(0L))
          .as("n_pre"),
        sum(when(col("d") > col("cutoff"), 1L).otherwise(0L))
          .as("n_post"))
    per.agg(count(lit(1)).as("n_users"),
        sum(when(col("n_pre") > 0 && col("n_post") === 0, 1L)
          .otherwise(0L)).as("n_train_only"),
        sum(when(col("n_pre") === 0 && col("n_post") > 0, 1L)
          .otherwise(0L)).as("n_test_only"),
        sum(when(col("n_pre") > 0 && col("n_post") > 0, 1L)
          .otherwise(0L)).as("n_spanning"),
        sum(col("n_post")).as("n_test_events"),
        sum(when(col("n_pre") > 0, col("n_post")).otherwise(0L))
          .as("n_test_events_seen"))
      .select(col("n_users"), col("n_train_only"), col("n_test_only"),
        col("n_spanning"), col("n_test_events"),
        r6(col("n_test_events_seen").cast("double") /
          col("n_test_events").cast("double")).as("seen_share"))
  }

  /** Point-in-time-correct churn training set: features strictly BEFORE
    * the cutoff (horizon days behind the corpus max), label strictly
    * AFTER — the leakage discipline every supervised pipeline on event
    * data needs and most get wrong (a feature that peeks past the cutoff
    * trains a model that cannot be served). Both sides fold in ONE
    * per-user aggregate via cutoff-conditional sums — no second corpus
    * pass, no time-travel join: n_events / total_value / days_active /
    * last-seen recency from the feature window, the label bit from the
    * future window. Users with no pre-cutoff events are excluded (their
    * features are undefined — scoring them would itself be leakage). */
  def trainingSet(ev: DataFrame, horizonDays: Int = 14): DataFrame = {
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        coalesce(col("value"), lit(0.0)).as("v"))
    val cut = rows.agg(date_sub(max(col("d")), horizonDays).as("cutoff"))
    val pre = col("d") <= col("cutoff")
    rows.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(
        sum(when(pre, 1L).otherwise(0L)).as("n_events"),
        round(sum(when(pre, col("v")).otherwise(lit(0.0))
          .cast("decimal(18,6)")), 2).cast("double").as("total_value"),
        countDistinct(when(pre, col("d"))).as("days_active"),
        datediff(max(col("cutoff")), max(when(pre, col("d"))))
          .cast("bigint").as("recency_days"),
        max(when(col("d") > col("cutoff"), 1).otherwise(0))
          .cast("int").as("label_active"))
      .filter(col("n_events") > 0)
      .orderBy("user_id")
  }

  /** Markov removal-effect attribution — the data-driven alternative to
    * last-touch rules: model user journeys as a first-order chain over
    * channel states with `conv`/`null` absorbers, then credit each
    * channel by how much total conversion probability disappears when
    * that channel's node is deleted (transitions into it leak to null —
    * NO renormalization, per the standard removal-effect definition).
    *
    * Journeys split at purchases (the running purchase count BEFORE each
    * row is the journey id); within a journey, `start` precedes the
    * first event, a purchase absorbs to `conv`, and a journey whose last
    * event is not a purchase terminates in `null`. The DATA-sized work —
    * one windowed pass to transitions, one (from,to) census — is fully
    * distributed; the census is category-bounded (≤ 5×6 cells), so
    * collecting it is the same documented bounded-collect pattern as the
    * CMS audit, and the 50-step absorption iteration runs driver-side on
    * that tiny matrix with FIXED state order (start,click,error,signup,
    * view — left-associated sums), which the oracle's recursive CTE
    * replays term for term; zero-probability terms are exact no-ops in
    * IEEE arithmetic, so base and removal variants stay bit-aligned. */
  def markovAttribution(ev: DataFrame, iters: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val channels = Seq("click", "error", "signup", "view")
    val known = channels :+ "purchase"
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isin(known: _*))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val wAll = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val seq0 = rows.withColumn("journey",
      coalesce(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L))
        .over(wAll.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wj = Window.partitionBy("user_id", "journey")
      .orderBy(col("ts"), col("event_id"))
    val trans = seq0
      .withColumn("f",
        coalesce(lag(col("event_type"), 1).over(wj), lit("start")))
      .withColumn("t", when(col("event_type") === "purchase", "conv")
        .otherwise(col("event_type")))
      .select(col("f"), col("t"))
    val terminal = seq0
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "journey")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1 && col("event_type") =!= "purchase")
      .select(col("event_type").as("f"), lit("null").as("t"))
    // category-bounded collect (≤ 5 from-states × 6 to-states)
    val cells = trans.unionAll(terminal)
      .groupBy("f", "t").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val transientStates = "start" +: channels
    val rowSums = transientStates.map(f =>
      f -> cells.collect { case ((ff, _), n) if ff == f => n }.sum).toMap
    def p(f: String, t: String): Double = {
      val rs = rowSums(f)
      if (rs == 0L) 0.0 else cells.getOrElse((f, t), 0L).toDouble / rs
    }
    def absorb(removed: Option[String]): Double = {
      var v = transientStates.map(s => if (s == "start") 1.0 else 0.0)
        .toArray
      var acc = 0.0
      for (_ <- 1 to iters) {
        var step = 0.0
        for ((s, i) <- transientStates.zipWithIndex
             if !removed.contains(s))
          step += v(i) * p(s, "conv")
        acc += step
        val nv = new Array[Double](transientStates.length)
        for ((tc, j) <- transientStates.zipWithIndex
             if tc != "start" && !removed.contains(tc)) {
          var x = 0.0
          for ((s, i) <- transientStates.zipWithIndex
               if !removed.contains(s))
            x += v(i) * p(s, tc)
          nv(j) = x
        }
        v = nv
      }
      acc
    }
    val base = absorb(None)
    val removedVals = channels.map(c => absorb(Some(c)))
    val effects = removedVals.map(a => base - a)
    val tot = effects.reduceLeft(_ + _)
    val spark = ev.sparkSession
    import spark.implicits._
    channels.lazyZip(removedVals).lazyZip(effects).toSeq.map {
      case (c, a, e) =>
        (c, r6(base), r6(a), r6(e),
          r6(if (tot != 0.0) e / tot else 0.0))
    }.toDF("channel", "p_conv_base", "p_conv_removed", "removal_effect",
      "share")
      .orderBy("channel")
  }

  /** McNemar's paired test between the two churn baselines — recency
    * (last seen ≤ `recencyCut` days before cutoff) vs frequency
    * (≥ `freqCut` distinct active days) — on the SAME users against the
    * SAME holdout label: the discordant cells b (recency right,
    * frequency wrong) and c (the reverse) carry ALL the evidence that
    * the rules differ; users both rules get right or wrong are
    * uninformative and McNemar correctly ignores them. χ² = (b−c)²/(b+c)
    * plus the continuity-corrected form; both 0 by convention when
    * b + c = 0 (no disagreement, nothing to test). This is the paired
    * comparison an unpaired accuracy diff gets wrong on shared users.
    *
    * Scale shape: rides [[trainingSet]]'s one user-frame pass; a single
    * map-side-combined aggregate to the 1-row report. */
  def mcnemarBaselines(ev: DataFrame, horizonDays: Int = 14,
                       recencyCut: Long = 7L,
                       freqCut: Long = 5L): DataFrame = {
    val ts = trainingSet(ev, horizonDays)
      .withColumn("pa", (col("recency_days") <= recencyCut).cast("int"))
      .withColumn("pb", (col("days_active") >= freqCut).cast("int"))
      .withColumn("ra", (col("pa") === col("label_active")).cast("int"))
      .withColumn("rb", (col("pb") === col("label_active")).cast("int"))
    val m = ts.agg(count(lit(1)).as("n_users"),
      sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L))
        .as("both_right"),
      sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L))
        .as("b"),
      sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L))
        .as("c"),
      sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L))
        .as("both_wrong"))
    def d(c: Column) = c.cast("double")
    val bc = d(col("b")) + d(col("c"))
    val chi2 = (d(col("b")) - d(col("c"))) * (d(col("b")) - d(col("c"))) /
      bc
    val chi2cc = (abs(d(col("b")) - d(col("c"))) - lit(1.0)) *
      (abs(d(col("b")) - d(col("c"))) - lit(1.0)) / bc
    m.select(col("n_users"), col("both_right"), col("b"), col("c"),
      col("both_wrong"),
      r6((d(col("both_right")) + d(col("b"))) / d(col("n_users")))
        .as("acc_recency"),
      r6((d(col("both_right")) + d(col("c"))) / d(col("n_users")))
        .as("acc_frequency"),
      r6(when(bc > lit(0.0), chi2).otherwise(lit(0.0))).as("chi2"),
      r6(when(bc > lit(0.0), chi2cc).otherwise(lit(0.0))).as("chi2_cc"))
  }

  /** Random-relabeling permutation test of the two-arm mean difference
    * of per-user event counts — the assumption-free companion to the
    * parametric [[graft.analytics.StatsAnalytics.welchTtest]] shape:
    * re-assign every user to a pseudo-arm via the portable hash at
    * `nPerms` seeds and ask how often |null diff| ≥ |observed diff|;
    * p = (1 + #exceed)/(P + 1) (the add-one Monte-Carlo estimator).
    * Hash relabeling (binomial arm sizes) rather than an exact
    * permutation — the standard large-N randomization-test variant, and
    * the only one whose assignments ANY engine can recompute
    * independently (the oracle rebuilds every arm from md5). Degenerate
    * resamples (an empty pseudo-arm) contribute diff = 0 by guard.
    *
    * Scale shape: one corpus aggregate to the user frame, then ONE
    * wide map-side-combined aggregate computes observed and all P null
    * sums in a single pass (2P+3 codegen'd conditional sums) — the
    * corpus is never fanned out P times. */
  def permutationTest(ev: DataFrame, nPerms: Int = 40): DataFrame = {
    import graft.ext.TextFns.portableH60
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
      .withColumn("g", graft.operators.Sampling
        .hashBucket(col("user_id"), 2))
    def bit(p: Int): Column = pmod(portableH60(
      concat(col("user_id").cast("string"), lit(s":$p"))), lit(2L))
    val permAggs = (1 to nPerms).flatMap { p =>
      Seq(sum(when(bit(p) === 0L, col("x")).otherwise(0L)).as(s"s0_$p"),
        sum(when(bit(p) === 0L, 1L).otherwise(0L)).as(s"n0_$p"))
    }
    val tailAggs = Seq(sum(col("x")).as("s"),
      sum(when(col("g") === 0, col("x")).otherwise(0L)).as("s0g"),
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0g")) ++ permAggs
    val m = per.agg(count(lit(1)).as("n"), tailAggs: _*)
    def d(c: Column) = c.cast("double")
    def diffOf(s0: Column, n0: Column): Column = {
      val n1 = col("n") - n0
      when(n0 > 0L && n1 > 0L,
        d(s0) / d(n0) - (d(col("s")) - d(s0)) / d(n1))
        .otherwise(lit(0.0))
    }
    val obs = diffOf(col("s0g"), col("n0g"))
    val exceed = (1 to nPerms).map { p =>
      when(abs(diffOf(col(s"s0_$p"), col(s"n0_$p"))) >= abs(obs), 1L)
        .otherwise(0L)
    }.reduce(_ + _)
    m.select(col("n").as("n_users"), r6(obs).as("diff_obs"),
      lit(nPerms.toLong).as("n_perms"), exceed.as("n_exceed"),
      r6((lit(1.0) + d(exceed)) / lit((nPerms + 1).toDouble))
        .as("p_value"))
  }

  /** Adstock decay sweep (Broadbent; the marketing-mix carryover
    * transform): daily click pressure decays geometrically into the
    * following `horizon` days — adstock_t(λ) = Σ_{0≤k≤H} λ^k·clicks_{t−k}
    * — and each candidate λ is priced by its Pearson correlation with
    * daily purchase revenue. The λ that correlates best is the carryover
    * the attribution model should assume. Decay weights are PRECOMPUTED
    * double literals (repeated multiplication in the driver, embedded in
    * both engines' expressions) — never a runtime pow(), whose libm
    * differs across engines.
    *
    * Scale shape: one corpus aggregate to the day frame, a banded
    * day×day self-join bounded by the CALENDAR (≤ |days|·(H+1) rows —
    * domain-bounded, never corpus-scale), per-λ DECIMAL-folded moment
    * aggregates over the day frame. */
  def adstockSweep(ev: DataFrame, horizon: Int = 14,
                   decays: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.9))
      : DataFrame = {
    val daily = ev.filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        round(sum(when(col("event_type") === "purchase",
            coalesce(col("value"), lit(0.0))).otherwise(lit(0.0))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"))
      .pinned() // band join reads both sides; per-λ reuse
    val lagged = daily.select(col("d").as("t"), col("revenue"))
      .join(daily.select(col("d").as("s"), col("clicks")),
        datediff(col("t"), col("s")).between(0, horizon))
      .withColumn("kk", datediff(col("t"), col("s")))
      .pinned() // every λ arm re-weights the same band frame
    def dec(c: Column) = c.cast("decimal(38,12)")
    def d(c: Column) = c.cast("double")
    decays.map { lam =>
      // λ^k as exact repeated-multiplication literals (see scaladoc)
      val wts = Iterator.iterate(1.0)(_ * lam).take(horizon + 1).toSeq
      val wArr = array(wts.map(lit): _*)
      val ad = lagged
        .select(col("t"), col("revenue"),
          dec(element_at(wArr, col("kk") + 1) * col("clicks")
            .cast("double")).as("a"))
        .groupBy("t", "revenue")
        .agg(sum(col("a")).cast("double").as("x"))
      val m = ad.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("revenue"))).cast("double").as("sy"),
        sum(dec(col("x") * col("x"))).cast("double").as("sxx"),
        sum(dec(col("revenue") * col("revenue"))).cast("double").as("syy"),
        sum(dec(col("x") * col("revenue"))).cast("double").as("sxy"))
      val n = d(col("n"))
      val corr = (n * col("sxy") - col("sx") * col("sy")) /
        sqrt((n * col("sxx") - col("sx") * col("sx")) *
          (n * col("syy") - col("sy") * col("sy")))
      m.select(lit(lam).as("decay"), col("n").as("n_days"),
        r6(corr).as("corr_revenue"))
    }.reduce(_ unionAll _).orderBy("decay")
  }

  /** Exact Shapley-value channel attribution (Shapley 1953; the
    * data-driven-attribution standard beside [[markovAttribution]]'s
    * removal effects): the conversion unit is a (user, day); its
    * coalition is the SET of channels (same whitelist as the Markov
    * model, purchase = conversion) touched that day, encoded as a
    * 4-bit mask. v(S) = observed conversion rate of units with
    * coalition exactly S; unobserved coalitions contribute v = 0 — the
    * zero-fill convention over the FULL 2^k lattice, so
    * φ_i = Σ_{S∌i} |S|!·(k−1−|S|)!/k! · (v(S∪i) − v(S)) includes BOTH
    * term shapes a holey lattice produces: observed M ∋ i with v(M−i)
    * zero-filled (leg A) and observed S ∌ i whose superset S∪i is
    * unobserved, contributing −w·v(S) (leg B — the term an
    * observed-masks-only iteration silently drops). The two legs
    * coincide with the single-leg form exactly when the observed
    * lattice is complete. Weights are scaled by k! = 24 so every weight
    * is an exact INTEGER (6/2/2/6) and the division by 24 happens once
    * at the end — no per-term rounding; per-term doubles fold through
    * DECIMAL so the Σ is partition-order-independent.
    *
    * Scale shape: one corpus aggregate to (user, day) units (shuffle on
    * the unit key, map-side combined), one unit aggregate to the ≤2^k
    * coalition census, then ALL Shapley algebra runs on that bounded
    * census (a 4-row channel literal × census join + a self-join on the
    * i-removed mask) — nothing data-scale ever moves again. At 100 TB
    * only the two aggregates grow; the lattice stays 16 rows. */
  def shapleyAttribution(ev: DataFrame): DataFrame = {
    val channels = Seq("click", "error", "signup", "view")
    val k = channels.length
    def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
    val units = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"))
      .groupBy("user_id", "d")
      .agg(max(when(col("event_type") === channels.head, 1L)
          .otherwise(0L)).as("b0"),
        (channels.zipWithIndex.tail.map { case (c, i) =>
          max(when(col("event_type") === c, 1L << i).otherwise(0L))
            .as(s"b$i")
        } :+
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y")): _*)
      .select((0 until k).map(i => col(s"b$i")).reduce(_ + _).as("mask"),
        col("y"))
    val census = units.groupBy("mask")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("conv"))
      .withColumn("v", col("conv").cast("double") / col("n").cast("double"))
      .pinned() // ≤ 2^k rows; every term below reads it
    val spark = ev.sparkSession
    import spark.implicits._
    val chan = channels.zipWithIndex
      .map { case (c, i) => (c, 1L << i) }
      .toDF("channel", "bit")
    // size-s weight scaled by k!: s!·(k−1−s)! — exact integers
    val w24 = (0 until k).map(s => fact(s) * fact(k - 1 - s))
    def popcnt(m: Column): Column = (0 until k).map(i =>
      shiftright(m, i).bitwiseAND(lit(1L))).reduce(_ + _)
    def wOf(s: Column): Column = w24.zipWithIndex.tail.foldLeft(
      lit(w24.head.toDouble)) { case (acc, (wv, sz)) =>
      when(s === sz.toLong, lit(wv.toDouble)).otherwise(acc)
    }
    // Leg A: observed M ∋ i contribute w(|M|−1)·(v(M) − v(M−i)),
    // with v(M−i) zero-filled when M−i is unobserved.
    val legA = census.join(chan,
        col("mask").bitwiseAND(col("bit")) =!= 0L)
      .join(census.select(col("mask").as("m0"), col("v").as("v0")),
        col("mask") - col("bit") === col("m0"), "left")
      .select(col("channel"), col("n"),
        (wOf(popcnt(col("mask")) - lit(1L)) *
          (col("v") - coalesce(col("v0"), lit(0.0))))
          .cast("decimal(28,12)").as("t"))
    // Leg B: observed S ∌ i whose superset S∪i is UNOBSERVED contribute
    // w(|S|)·(v(S∪i) − v(S)) = −w(|S|)·v(S) under the zero-fill
    // convention — the term Leg A's observed-mask iteration cannot see.
    // n is 0 here: these units never touched channel i, so they do not
    // count toward n_units ("units that touched the channel").
    val legB = census.join(chan,
        col("mask").bitwiseAND(col("bit")) === 0L)
      .join(census.select(col("mask").as("m1")),
        col("mask") + col("bit") === col("m1"), "left_anti")
      .select(col("channel"), lit(0L).as("n"),
        (wOf(popcnt(col("mask"))) * (lit(0.0) - col("v")))
          .cast("decimal(28,12)").as("t"))
    val terms = legA.unionAll(legB)
    terms.groupBy("channel")
      .agg(sum(col("n")).as("n_units"),
        sum(col("t")).as("st"))
      .select(col("channel"), col("n_units"),
        r6(col("st").cast("double") / lit(fact(k).toDouble))
          .as("shapley"))
      .orderBy("channel")
  }
}
