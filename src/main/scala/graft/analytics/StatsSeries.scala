package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.functions.CleanFns.r6

/** StatsAnalytics, part 2 of 4: daily-series analytics and classical
  * tests - ewmaDaily .. stalenessReport. */
private[analytics] trait StatsSeries {
  this: StatsAnalytics.type =>
  def ewmaDaily(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
      .withColumn("t", row_number().over(Window.orderBy("d")))
    val terms = daily.select(col("d"), col("x"), col("t"))
      .join(daily.select(col("t").as("j"), col("x").as("xj")),
        col("j") <= col("t") && col("t") - col("j") <= lit(62))
      .withColumn("k",
        when(col("j") === 1, col("t") - lit(1))
          .otherwise(col("t") - col("j") + lit(1)))
      .withColumn("term", col("xj") /
        expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))").cast("double"))
    terms.groupBy("d", "x", "t")
      .agg(sum(col("term").cast("decimal(28,10)")).as("__e"))
      .select(col("d"), col("x").as("daily_revenue"),
        round(col("__e").cast("double"), 4).as("ewma"))
      .orderBy("d")
  }

  /** CUPED variance reduction (Deng et al., "Improving the Sensitivity of
    * Online Controlled Experiments") — the covariate-adjustment every
    * large experimentation platform applies before reading an A/B test:
    * θ = cov(x,y)/var(x) from a PRE-period covariate x (first-half spend)
    * against the outcome y (second-half spend), and the adjusted-metric
    * variance var(y) − cov²/var(x). One per-user pass builds (x, y) from
    * DECIMAL-summed period totals; the moment aggregate decimal-sums the
    * IEEE-identical products, so θ and the variance ratio are bit-stable
    * at any partition count. Output is the one-row experiment-design
    * report: how much narrower the confidence interval gets. */
  def cuped(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        coalesce(col("value"), lit(0.0)).as("v"))
    val span = rows.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
    val perUser = rows.crossJoin(broadcast(span))
      .groupBy("user_id")
      .agg(
        round(sum(when(col("d") <= col("mid"), col("v")).otherwise(0.0)
          .cast("decimal(18,6)")), 6).cast("double").as("x"),
        round(sum(when(col("d") > col("mid"), col("v")).otherwise(0.0)
          .cast("decimal(18,6)")), 6).cast("double").as("y"))
    val m = perUser.agg(
      count(lit(1)).as("n_users"),
      sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
      sum((col("x") * col("y")).cast("decimal(28,8)")).cast("double")
        .as("sxy"),
      sum((col("x") * col("x")).cast("decimal(28,8)")).cast("double")
        .as("sxx"),
      sum((col("y") * col("y")).cast("decimal(28,8)")).cast("double")
        .as("syy"))
    val nD = col("n_users").cast("double")
    val mx = col("sx") / nD
    val my = col("sy") / nD
    val varX = col("sxx") / nD - mx * mx
    val varY = col("syy") / nD - my * my
    val covXY = col("sxy") / nD - mx * my
    val varAdj = varY - covXY * covXY / varX
    m.select(col("n_users"),
      when(varX === 0.0, lit(null).cast("double"))
        .otherwise(round(covXY / varX, 6)).as("theta"),
      round(varY, 6).as("var_y"),
      when(varX === 0.0, lit(null).cast("double"))
        .otherwise(round(varAdj, 6)).as("var_adj"),
      when(varX === 0.0 || varY === 0.0, lit(null).cast("double"))
        .otherwise(round(varAdj / varY, 6)).as("var_ratio"))
  }

  /** Autocorrelation of daily revenue at lags 1..`maxLag` — the
    * seasonality probe a forecasting pipeline runs before model choice.
    * The corpus collapses to the |days|-sized daily frame first; the lag
    * window, mean-centering, and the Σ(x_t−x̄)(x_{t−k}−x̄) sums all run
    * over that tiny frame with DECIMAL accumulation of IEEE-identical
    * products. Denominator is the full-series variance sum (the standard
    * ACF normalization, shared across lags). */
  def acfDaily(ev: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
    val stats = daily.agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"))
      .select(col("n"), (col("sx") / col("n").cast("double")).as("mean_x"))
    val centered = daily.crossJoin(broadcast(stats))
      .select(col("d"), col("n"), (col("x") - col("mean_x")).as("c"))
    // All maxLag arms fold in ONE window pass + ONE aggregate (the
    // previous per-lag union re-ran the day window and a global agg
    // maxLag times — 8 extra exchanges of pure scheduling overhead).
    // sum() skips the null products exactly where the old per-arm
    // filter(cl IS NOT NULL) dropped rows, and count(cl_k) counts the
    // same non-null pairs, so every (num, n_pairs, den) is bit-equal.
    val w = Window.orderBy("d")
    val laggedCols = (1 to maxLag).map(k =>
      s"cl_$k" -> lag(col("c"), k).over(w)).toMap
    val folds = centered.withColumns(laggedCols)
      .agg(sum((col("c") * col("c")).cast("decimal(28,10)"))
          .cast("double").as("den"),
        (1 to maxLag).flatMap(k => Seq(
          sum((col("c") * col(s"cl_$k")).cast("decimal(28,10)"))
            .cast("double").as(s"num_$k"),
          count(col(s"cl_$k")).as(s"np_$k"))): _*)
    folds
      .select(col("den"), explode(array((1 to maxLag).map(k =>
        struct(lit(k.toLong).as("lag"), col(s"np_$k").as("n_pairs"),
          col(s"num_$k").as("num"))): _*)).as("r"))
      .select(col("r.lag").as("lag"), col("r.n_pairs").as("n_pairs"),
        round(col("r.num") / col("den"), 6).as("acf"))
      .orderBy("lag")
  }

  /** Ljung–Box portmanteau test on the daily-revenue ACF — the formal
    * "is there ANY autocorrelation" gate on top of [[acfDaily]]'s
    * per-lag probe: Q = n(n+2)·Σ_k ρ_k²/(n−k), compared against the
    * χ²(maxLag) 5% critical value (a literal constant — no CDF needed
    * cross-engine). Rides the exact machinery acfDaily publishes: ρ_k
    * re-derives from the same day frame, so the statistic is a scalar
    * fold over maxLag rows. */
  def ljungBox(ev: DataFrame, maxLag: Int = 7): DataFrame = {
    val a = acfDaily(ev, maxLag)
    def d(c: Column) = c.cast("double")
    val n = d(col("n_pairs")) + d(col("lag"))
    val m = a.select(col("lag"), col("acf"), n.as("n"))
      .select(col("n"),
        ((col("acf") * col("acf")) / (col("n") - d(col("lag"))))
          .cast("decimal(28,12)").as("term"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_lags"),
        sum(col("term")).cast("double").as("s"))
    // χ²(7) 95th percentile = 14.067140 (literal; both engines compare
    // the same constant rather than evaluating a CDF)
    val crit = if (maxLag == 7) 14.06714 else Double.NaN
    val q = col("n") * (col("n") + lit(2.0)) * col("s")
    m.select(col("n").cast("bigint").as("n_days"), col("n_lags"),
      r6(q).as("lb_q"),
      (q > lit(crit)).cast("int").as("reject_iid"))
  }

  /** Nelson–Aalen cumulative hazard over the same lifetime event table
    * as [[survivalKm]] — the estimator survival analysis prefers when
    * the HAZARD (instantaneous churn intensity) is the object, plus
    * the Breslow survival exp(−H) as the KM cross-check: at every
    * death time, H accumulates d/n_risk exactly (each ratio quantized
    * through DECIMAL, cumulative-summed over the day-bounded lifetime
    * frame — partition-order-independent). Censoring enters through
    * n_risk, identically to KM.
    *
    * Scale shape: one user aggregate, then everything runs on the
    * lifetime census (≤ horizon-days rows). */
  def nelsonAalen(ev: DataFrame): DataFrame = {
    val perT = lifetimeTable(ev)
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = perT.agg(sum(col("d") + col("c")).as("n_total"))
    val hTerm = when(col("d") > 0L,
      (col("d").cast("double") / col("n_risk").cast("double"))
        .cast("decimal(28,12)"))
      .otherwise(lit(0).cast("decimal(28,12)"))
    perT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev),
          lit(0L)))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        r6(sum(hTerm).over(w).cast("double")).as("h_na"),
        r6(exp(-sum(hTerm).over(w).cast("double"))).as("s_breslow"))
      .orderBy("t")
  }

  /** Lag-1 Granger causality test: do daily CLICKS help predict daily
    * REVENUE beyond revenue's own lag? Unrestricted
    * y_t = a + b·y_{t−1} + c·x_{t−1} vs restricted y_t = a + b·y_{t−1};
    * F = (RSS_r − RSS_u)·(n−3)/RSS_u with both regressions solved
    * CLOSED-FORM from centered second moments (Cramer on the 2×2
    * normal equations — the grouped-OLS discipline, every moment a
    * DECIMAL fold). The reject flag compares against the literal 4.20
    * (≈ F(1, 25) at 5% — a fixed constant both engines compare, no CDF;
    * stated in the column name, calibrated to the fixture's ~30-day
    * series). Degenerate moments (D = 0, RSS_u = 0) report 0 with the
    * structurally-nonzero sentinel divisors (waldIv discipline).
    *
    * Scale shape: one day aggregate; lags, moments, and the F fold all
    * run on the day-bounded frame. */
  def grangerLag1(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(when(col("event_type") === "purchase",
          coalesce(col("value"), lit(0.0))).otherwise(lit(0.0))
          .cast("decimal(18,6)")), 2).cast("double").as("y"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("double").as("x"))
    val w = Window.orderBy("d")
    val rows = daily
      .withColumn("yl", lag(col("y"), 1).over(w))
      .withColumn("xl", lag(col("x"), 1).over(w))
      .filter(col("yl").isNotNull)
    def dec(c: Column) = c.cast("decimal(38,12)")
    def d(c: Column) = c.cast("double")
    val m0 = rows.agg(count(lit(1)).as("n"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum(dec(col("yl"))).cast("double").as("su"),
      sum(dec(col("xl"))).cast("double").as("sv"))
    val cm = rows.crossJoin(broadcast(m0))
      .select(
        (col("y") - col("sy") / d(col("n"))).as("cy"),
        (col("yl") - col("su") / d(col("n"))).as("cu"),
        (col("xl") - col("sv") / d(col("n"))).as("cv"),
        col("n"))
      .agg(max(col("n")).as("n"),
        sum(dec(col("cu") * col("cu"))).cast("double").as("suu"),
        sum(dec(col("cv") * col("cv"))).cast("double").as("svv"),
        sum(dec(col("cu") * col("cv"))).cast("double").as("suv"),
        sum(dec(col("cu") * col("cy"))).cast("double").as("suy"),
        sum(dec(col("cv") * col("cy"))).cast("double").as("svy"),
        sum(dec(col("cy") * col("cy"))).cast("double").as("syy"))
    val det = col("suu") * col("svv") - col("suv") * col("suv")
    val detDiv = when(det =!= 0.0, det).otherwise(lit(1.0))
    val suuDiv = when(col("suu") =!= 0.0, col("suu")).otherwise(lit(1.0))
    val b = (col("svv") * col("suy") - col("suv") * col("svy")) / detDiv
    val c = (col("suu") * col("svy") - col("suv") * col("suy")) / detDiv
    val rssU = col("syy") - b * col("suy") - c * col("svy")
    val rssR = col("syy") - col("suy") * col("suy") / suuDiv
    val rssUDiv = when(rssU =!= 0.0, rssU).otherwise(lit(1.0))
    val ok = det =!= 0.0 && col("suu") =!= 0.0 && col("n") > 3L
    val f = (rssR - rssU) * (d(col("n")) - lit(3.0)) / rssUDiv
    cm.select(col("n").as("n_obs"),
      r6(when(ok, b).otherwise(lit(0.0))).as("beta_y_lag"),
      r6(when(ok, c).otherwise(lit(0.0))).as("beta_x_lag"),
      r6(when(ok, rssU).otherwise(lit(0.0))).as("rss_unrestricted"),
      r6(when(ok, rssR).otherwise(lit(0.0))).as("rss_restricted"),
      r6(when(ok && rssU =!= 0.0, f).otherwise(lit(0.0))).as("f_stat"),
      when(ok && rssU =!= 0.0 && f > lit(4.20), 1).otherwise(0)
        .cast("int").as("granger_at_f420"))
  }

  /** Exact periodogram of the daily-revenue series at candidate integer
    * periods — "WHICH cycle does this series carry" (the spectral
    * generalization of [[graft.analytics.EventAnalytics
    * .seasonalStrength]]'s fixed weekday question): for each period p,
    * power_p = (Σ c_t·cos(2πt_p/p))² + (Σ c_t·sin(2πt/p))² over the
    * mean-centered series, normalized by n. The trig values come from
    * LITERAL tables generated once in Scala and interpolated into BOTH
    * the Column expressions and the oracle SQL (cos/sin are
    * libm-divergent across engines — the adstock weight-literal
    * discipline), keyed by t mod p, so the expression is a bounded CASE
    * and every product is the same IEEE double on both engines.
    *
    * Scale shape: one day aggregate; each period arm is one fold over
    * the day-bounded centered frame (arms unioned, the acfDaily
    * shape). */
  def periodogram(ev: DataFrame,
                  periods: Seq[Int] = (2 to 14)): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
    val m0 = daily.agg(count(lit(1)).as("n"), min(col("d")).as("d0"),
      sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"))
    val centered = daily.crossJoin(broadcast(m0))
      .select(datediff(col("d"), col("d0")).cast("bigint").as("t"),
        (col("x") - col("sx") / col("n").cast("double")).as("c"),
        col("n"))
      .pinned() // every period arm folds it
    def dec(c: Column) = c.cast("decimal(38,12)")
    val arms = periods.map { p =>
      def trig(table: Int => Double): Column =
        (1 until p).foldLeft(lit(table(0))) { (acc, r) =>
          when(col("t") % p === r.toLong, lit(table(r))).otherwise(acc)
        }
      val cosC = trig(r => PeriodogramTables.cosTab(p)(r))
      val sinC = trig(r => PeriodogramTables.sinTab(p)(r))
      centered.agg(max(col("n")).as("n"),
          sum(dec(col("c") * cosC)).cast("double").as("sc"),
          sum(dec(col("c") * sinC)).cast("double").as("ss"))
        .select(lit(p.toLong).as("period"), col("n"),
          ((col("sc") * col("sc") + col("ss") * col("ss")) /
            col("n").cast("double")).as("pw"))
    }
    arms.reduce(_ unionAll _)
      .select(col("period"), col("n").cast("bigint").as("n_days"),
        r6(col("pw")).as("power"))
      .orderBy("period")
  }

  /** STL-lite additive decomposition of the daily-revenue series:
    * trend = centered 7-day moving average (shrinking at the edges),
    * seasonal = weekday mean of the detrended series, residual = the
    * rest — the per-day table behind
    * [[graft.analytics.EventAnalytics.seasonalStrength]]'s scalar. All
    * three components derive from the day frame (one corpus aggregate;
    * centered window and weekday means are calendar-bounded); window
    * sums accumulate DECIMAL so the moving average is order-exact. */
  def stlLite(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      // series values round to 2dp IN DECIMAL (portable) before any
      // double arithmetic — double round() semantics differ per engine
      .agg(round(sum(col("value").cast("decimal(28,12)")), 2)
        .cast("double").as("v"))
      .pinned() // trend window + weekday means share one pass
    val w = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend", sum(col("v").cast("decimal(28,12)")).over(w)
        .cast("double") / count(lit(1)).over(w).cast("double"))
      .withColumn("det", col("v") - col("trend"))
      .withColumn("wd", dayofweek(col("d")))
    val wk = trended.groupBy("wd")
      .agg((sum(col("det").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("seasonal"))
    trended.join(broadcast(wk), Seq("wd"))
      .select(col("d"), col("v"),
        r6(col("trend")).as("trend"),
        r6(col("seasonal")).as("seasonal"),
        r6(col("det") - col("seasonal")).as("residual"))
      .orderBy("d")
  }

  /** Partial autocorrelation at lags 1–3 via the Durbin–Levinson
    * recursion in CLOSED FORM over [[acfDaily]]'s published ρ values —
    * the third leg of the Box–Jenkins identification triad (ACF shape,
    * PACF cutoff, Ljung–Box significance): an AR(p) process shows PACF
    * cutting off after lag p, which the raw ACF cannot reveal. The
    * recursion runs on the r6-ROUNDED ρ₁..ρ₃ (three numbers — scalar
    * algebra, no data pass beyond the ACF's own), so both engines fold
    * identical inputs; denominators guard the |ρ|=1 degenerate case. */
  def pacfDaily(ev: DataFrame): DataFrame = {
    val a = acfDaily(ev, 3)
    def at(k: Int) = max(when(col("lag") === k, col("acf")))
    val m = a.agg(at(1).as("r1"), at(2).as("r2"), at(3).as("r3"),
      max(col("n_pairs") + col("lag")).as("n_days"))
    val p11 = col("r1")
    val den2 = lit(1.0) - col("r1") * col("r1")
    val p22 = when(den2 =!= lit(0.0),
      (col("r2") - col("r1") * col("r1")) / den2).otherwise(lit(0.0))
    val p21 = p11 * (lit(1.0) - p22)
    val den3 = lit(1.0) - p21 * col("r1") - p22 * col("r2")
    val p33 = when(den3 =!= lit(0.0),
      (col("r3") - p21 * col("r2") - p22 * col("r1")) / den3)
      .otherwise(lit(0.0))
    m.select(col("n_days"), r6(p11).as("pacf_1"), r6(p22).as("pacf_2"),
      r6(p33).as("pacf_3"))
  }

  /** Cohort LTV triangle: users cohort by FIRST-SEEN day; per (cohort,
    * day-offset) the value contribution accumulates into the running
    * lifetime value — the growth-analytics curve beside the retention
    * matrix. Two bounded aggregates (per-user first day, then per-cell
    * DECIMAL sums) and a cumulative window PARTITIONED by cohort over the
    * ≤ |days|² triangle. Offsets are capped at `maxOffset` to keep the
    * report scannable. */
  def ltvCohorts(ev: DataFrame, maxOffset: Int = 7): DataFrame = {
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        coalesce(col("value"), lit(0.0)).as("v"))
    val first = rows.groupBy("user_id").agg(min(col("d")).as("cohort"))
    val cells = rows.join(first, "user_id")
      .select(col("cohort"),
        datediff(col("d"), col("cohort")).cast("bigint").as("day_offset"),
        col("v"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v").cast("decimal(18,6)")).as("__s"))
    val w = Window.partitionBy("cohort").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("period_value", round(col("__s"), 2).cast("double"))
      .withColumn("cum_ltv", round(sum(col("__s")).over(w), 2)
        .cast("double"))
      .select("cohort", "day_offset", "n_events", "period_value",
        "cum_ltv")
      .orderBy("cohort", "day_offset")
  }

  /** Robust trend report over daily revenue: the Theil–Sen slope (median
    * of all pairwise slopes — 29.3% breakdown point, vs 0 for OLS) and
    * the Mann–Kendall monotone-trend statistic S = Σ sign(x_j − x_i) with
    * its no-ties normal approximation z = (S − sgn S)/√(n(n−1)(2n+5)/18).
    * The corpus collapses to the |days| frame first, so the O(days²) pair
    * join is bounded (≤ ~66k pairs/year) and never touches raw rows. The
    * median is an explicit two-middle-ranks average — IEEE addition of
    * two doubles is commutative, so the even-n average is order-safe —
    * matching DuckDB's interpolated `median` exactly. */
  def robustTrend(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
      .withColumn("t", row_number().over(Window.orderBy("d")))
    val pairs = daily.select(col("t").as("ta"), col("x").as("xa"))
      .join(daily.select(col("t").as("tb"), col("x").as("xb")),
        col("tb") > col("ta"))
      .select(col("ta"), col("tb"),
        ((col("xb") - col("xa")) /
          (col("tb") - col("ta")).cast("double")).as("slope"),
        signum(col("xb") - col("xa")).as("sgn"))
    val agg = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("sgn").cast("bigint")).as("mk_s"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    val ranked = pairs
      .withColumn("rn", row_number().over(
        Window.orderBy(col("slope"), col("ta"), col("tb"))))
    val med = ranked.crossJoin(broadcast(agg.select(col("n_pairs"))))
      .filter(col("rn") >= floor((col("n_pairs") + 1) / 2) &&
        col("rn") <= floor(col("n_pairs") / 2) + 1)
      .agg(avg(col("slope")).as("ts_slope"))
    val nD = col("n_days").cast("double")
    val varS = nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) / 18.0
    nDays.crossJoin(broadcast(agg)).crossJoin(broadcast(med))
      .select(col("n_days"), col("n_pairs"),
        round(col("ts_slope"), 6).as("theil_sen_slope"),
        col("mk_s"),
        when(col("n_days") < 3, lit(null).cast("double"))
          .otherwise(round((col("mk_s").cast("double") -
            signum(col("mk_s").cast("double"))) / sqrt(varS), 6))
          .as("mk_z"))
  }

  /** Minimum-detectable-effect report (the experiment-design companion to
    * [[abLift]] and [[cuped]]): per-variant user counts from the hash
    * split, pooled variance of per-user outcome totals, and the absolute
    * / relative MDE at α=0.05 two-sided, 80% power —
    * (z₀.₉₇₅+z₀.₈)·√(varₚ·(1/nₐ+1/n_b)). The z quantiles are fixed
    * decimal literals (identical doubles in both engines); all moment
    * sums accumulate in DECIMAL. One per-user pass + a two-row variant
    * aggregate. */
  def mdeReport(ev: DataFrame): DataFrame = {
    val perUser = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(round(sum(coalesce(col("value"), lit(0.0))
        .cast("decimal(18,6)")), 6).cast("double").as("y"))
      .withColumn("variant", graft.operators.Sampling
        .hashBucket(col("user_id"), 2))
    val m = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
        sum((col("y") * col("y")).cast("decimal(28,8)")).cast("double")
          .as("syy"))
      .select(col("variant"), col("n"), col("sy"), col("syy"),
        ((col("syy") - col("sy") * col("sy") / col("n").cast("double")) /
          (col("n") - lit(1)).cast("double")).as("s2"))
    val a = m.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("sy").as("sy_a"),
        col("s2").as("s2_a"))
    val b = m.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("sy").as("sy_b"),
        col("s2").as("s2_b"))
    val zSum = lit(1.959964) + lit(0.841621)
    a.crossJoin(b).select(
        col("n_a"), col("n_b"),
        round((col("sy_a") + col("sy_b")) /
          (col("n_a") + col("n_b")).cast("double"), 6).as("mean_y"),
        (((col("n_a") - lit(1)).cast("double") * col("s2_a") +
          (col("n_b") - lit(1)).cast("double") * col("s2_b")) /
          (col("n_a") + col("n_b") - lit(2)).cast("double")).as("var_p"))
      .select(col("n_a"), col("n_b"), col("mean_y"),
        round(col("var_p"), 6).as("var_pooled"),
        round(zSum * sqrt(col("var_p") *
          (lit(1.0) / col("n_a").cast("double") +
           lit(1.0) / col("n_b").cast("double"))), 6).as("mde_abs"))
  }

  /** k-anonymity audit over the (event type, day, value bucket)
    * quasi-identifier: how many equivalence groups fall below `k` members
    * and how many rows they expose — the privacy pre-release gate. One
    * map-side projection + one group-sized aggregate; the report is a
    * single row. */
  def kAnonymity(ev: DataFrame, k: Long = 5L): DataFrame = {
    val quasi = ev.filter(col("event_type").isNotNull &&
        col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") / 50.0).cast("bigint").as("vb"))
    quasi.groupBy("event_type", "d", "vb")
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_unsafe_groups"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_at_risk"),
        min(col("n")).as("min_group_size"))
      .withColumn("k", lit(k))
  }

  /** Lorenz curve over customer lifetime spend: customers sorted into
    * spend deciles (deterministic tiebreak on the key), reporting each
    * decile's customer count, spend, and the cumulative share of total
    * revenue — the "top decile is X% of revenue" concentration table
    * behind [[giniBySegment]]'s scalar.
    *
    * Scale shape: orders collapse to one row per customer (decimal
    * sums) BEFORE any ordering, so the ntile ranks a customer-
    * cardinality frame, not orders (same global-window precedent as
    * q_value_deciles — at the 100 TB design point swap ntile for
    * percentile-boundary bucketing to avoid the single-partition sort).
    * The cumulative share runs over exactly 10 decile rows; shares are
    * decimal/decimal rationals → portable floor rounds. */
  def lorenzDeciles(orders: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("spend"))
    val d = per.select(col("o_custkey"), col("spend"),
      ntile(10).over(Window.orderBy(col("spend"), col("o_custkey")))
        .cast("bigint").as("decile"))
    val byDecile = d.groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("spend")).as("dspend"))
    val tot = byDecile.agg(sum(col("dspend")).as("total"))
    byDecile.crossJoin(tot)
      .select(col("decile"), col("n_customers"),
        round(col("dspend"), 2).cast("double").as("spend"),
        r6(sum(col("dspend"))
            .over(Window.orderBy("decile")
              .rowsBetween(Window.unboundedPreceding, 0))
            .cast("double") / col("total").cast("double")).as("cum_share"))
      .orderBy("decile")
  }

  /** The 100 TB shape of [[lorenzDeciles]] (same pattern as
    * rfmSegmentsScale): decile BOUNDARIES from `percentile_approx` over
    * per-customer spend — a mergeable sketch with map-side partials,
    * broadcast back as one row — and deciles assigned map-side as
    * 1 + Σ(spend > bᵢ), so NO single-partition ntile sort ever ranks the
    * customer frame. The only remaining window is the cumulative-share
    * sum over the ≤10 decile rows — domain-bounded, never data-scale.
    * Semantic delta, by design: equal spends share a decile (a boundary
    * cut cannot split ties the way a ranked ntile does). Default accuracy
    * is sketch-grade 10⁴; the verify/bench entry passes the
    * exact-at-fixture 10⁷ because the oracle reproduces the sketch's
    * rank-ceil(p·n) boundary with an explicit row_number rank. */
  def lorenzDecilesScale(orders: DataFrame,
                         accuracy: Int = 10000): DataFrame = {
    // the per-customer aggregate feeds BOTH the boundary sketch and the
    // scoring pass — localCheckpoint so the orders scan+shuffle runs once
    val per = orders.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("spend"))
      .pinned()
    val ps = array((1 to 9).map(i => lit(i / 10.0)): _*)
    val bounds = per.agg(
      percentile_approx(col("spend"), ps, lit(accuracy)).as("sb"))
    val above = (0 to 8)
      .map(i => (col("spend") > col("sb")(i)).cast("int")).reduce(_ + _)
    val byDecile = per.crossJoin(broadcast(bounds))
      .withColumn("decile", (lit(1) + above).cast("bigint"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("spend")).as("dspend"))
    val tot = byDecile.agg(sum(col("dspend")).as("total"))
    byDecile.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        round(col("dspend"), 2).cast("double").as("spend"),
        r6(sum(col("dspend"))
            .over(Window.orderBy("decile")
              .rowsBetween(Window.unboundedPreceding, 0))
            .cast("double") / col("total").cast("double")).as("cum_share"))
      .orderBy("decile")
  }

  /** Burstiness (Fano factor) of daily event arrivals per type: the
    * variance-to-mean ratio of the per-day counts — 1 is Poisson,
    * above is bursty, below is regular. Bursty types need time-salted
    * partitioning; regular ones can stream through fixed shards — the
    * dispersion diagnostic behind that choice.
    *
    * Counts are integers, so mean and sample variance come from the
    * exact sums `(D·Σc² − (Σc)²) / (D·(D−1))`; every output is a
    * rational of integers → portable floor rounds. Two nested
    * map-side-combined aggregates, nothing else. */
  def burstiness(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
    val dd = col("n_days").cast("double")
    val mean = col("sc").cast("double") / dd
    val variance = (dd * col("scc").cast("double") -
      col("sc").cast("double") * col("sc").cast("double")) /
      (dd * (dd - lit(1.0)))
    m.filter(col("n_days") > 1)
      .select(col("event_type"), col("n_days"),
        r6(mean).as("mean_daily"), r6(variance).as("var_daily"),
        r6(variance / mean).as("fano"))
      .orderBy("event_type")
  }

  /** l-diversity audit — the companion to [[kAnonymity]]: a group of
    * identical quasi-identifiers (event type, day, value bucket) is safe
    * only if its SENSITIVE attribute (user_id here) takes at least `l`
    * distinct values; a large group whose rows all belong to one user
    * still leaks (the homogeneity attack k-anonymity misses). One
    * quasi-key aggregate with an exact distinct; the rollup is a one-row
    * second pass over group-cardinality data. At the 100 TB design point
    * swap the exact distinct for HLL only if the audit is advisory —
    * a compliance gate needs the exact count. */
  def lDiversity(ev: DataFrame, l: Long = 3L): DataFrame = {
    val quasi = ev.filter(col("event_type").isNotNull &&
        col("ts").isNotNull && col("value").isNotNull &&
        col("user_id").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") / 50.0).cast("bigint").as("vb"), col("user_id"))
    quasi.groupBy("event_type", "d", "vb")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("ldiv"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("ldiv") < l, 1L).otherwise(0L)).as("n_low_div_groups"),
        sum(when(col("ldiv") < l, col("n")).otherwise(0L)).as("rows_at_risk"),
        min(col("ldiv")).as("min_l"))
      .withColumn("l", lit(l))
  }

  /** Late-arrival backfill planner: per-date row counts of the previous
    * snapshot (simulated here as the deterministic subset missing
    * event_id % 97 == 0 — the "late" rows a daily load hadn't seen yet)
    * against today's, flagging the dates whose partitions must be
    * recomputed. The real pipeline would read yesterday's manifest
    * instead of the simulation predicate; the diff plan — one per-date
    * aggregate, no joins — is the part that scales. */
  def backfillPlan(ev: DataFrame): DataFrame =
    ev.filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("d"), col("event_id"))
      .groupBy("d")
      .agg(sum(when(col("event_id") % 97 =!= 0, 1L).otherwise(0L))
          .as("n_old"),
        count(lit(1)).as("n_new"))
      .withColumn("needs_backfill",
        (col("n_old") =!= col("n_new")).cast("int"))
      .orderBy("d")

  /** Incremental aggregate maintenance: the merged-partials form of the
    * per-type (count, decimal sum) report. The corpus splits into a
    * "base" and a "delta" period (broadcast midpoint, as [[psiDrift]]),
    * each aggregates independently, and the partials MERGE by addition —
    * count and DECIMAL-sum are commutative monoids, so the merge equals
    * the flat recompute bit-for-bit, which is exactly what the flat-SQL
    * oracle checks. This is the contract that lets a 100 TB pipeline
    * maintain its aggregates from deltas instead of rescanning history;
    * the per-period audit columns expose the partials' provenance. */
  def incrementalAgg(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        coalesce(col("value"), lit(0.0)).as("v"))
    val span = rows.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
    val partials = rows.crossJoin(broadcast(span))
      .withColumn("part",
        when(col("d") <= col("mid"), lit("base")).otherwise(lit("delta")))
      .groupBy("event_type", "part")
      .agg(count(lit(1)).as("pn"),
        sum(col("v").cast("decimal(18,6)")).as("ps"))
    partials.groupBy("event_type")
      .agg(sum(col("pn")).as("n_events"),
        round(sum(col("ps")), 2).cast("double").as("total_value"),
        sum(when(col("part") === "base", col("pn")).otherwise(0L))
          .as("n_base"),
        sum(when(col("part") === "delta", col("pn")).otherwise(0L))
          .as("n_delta"))
      .orderBy("event_type")
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the deterministic
    * hash-split variants (same split as [[abLift]]), on ecdfs over
    * VALUE BINS: the per-bin counts collapse the corpus map-side, the
    * cumulative window then runs over the bin frame (bounded by the value
    * range — a window over raw distinct values would funnel the corpus
    * through one partition, the classic 100 TB non-shape; binned KS is
    * standard at scale). Counts stay integers through the prefix sums, so
    * the ecdf ratios are exact-input doubles and the max/argmax is
    * engine-independent. */
  def ksTest(ev: DataFrame, invWidth: Double = 4.0): DataFrame = {
    val rows = ev.filter(col("value").isNotNull && col("user_id").isNotNull)
      .select(Sampling.hashBucket(col("user_id"), 2).as("variant"),
        floor(col("value") * invWidth).cast("bigint").as("bucket"))
    val cells = rows.groupBy("bucket")
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cells
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .crossJoin(broadcast(cells.agg(sum(col("ca")).as("n_a"),
        sum(col("cb")).as("n_b"))))
      .withColumn("diff",
        abs(col("cum_a").cast("double") / col("n_a").cast("double") -
          col("cum_b").cast("double") / col("n_b").cast("double")))
    val best = Window.orderBy(col("diff").desc, col("bucket"))
    scored.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("n_a"), col("n_b"),
        round(col("bucket") / lit(invWidth), 2).as("d_at_value"),
        round(col("diff"), 6).as("d_stat"),
        round(col("diff") *
          sqrt(col("n_a").cast("double") * col("n_b").cast("double") /
            (col("n_a") + col("n_b")).cast("double")), 6).as("ks_scaled"))
  }

  /** Mean with a 95% CI by DETERMINISTIC Poisson bootstrap — the
    * resampling scheme that actually works on a cluster (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams": per-row
    * independent Poisson(1) multiplicities instead of a global n-draw,
    * so each of the B resamples is one map-side projection). The
    * multiplicity comes from the portable 60-bit hash of (row, replica)
    * pushed through the Poisson(1) inverse CDF as a literal threshold
    * ladder — no RNG state, bit-identical in the DuckDB oracle. Weighted
    * sums route through DECIMAL; the B resample means are a B-row frame
    * whose exact percentiles give the CI. */
  def bootstrapCi(ev: DataFrame, b: Int = 32): DataFrame = {
    import graft.ext.TextFns.portableH60
    val rows = ev.filter(col("value").isNotNull)
      .select(col("event_id"), col("value"))
    val u = portableH60(concat(col("event_id").cast("string"), lit(":"),
      col("rep").cast("string"))).cast("double") /
      lit(1152921504606846976.0) // 2^60
    val mult = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L).otherwise(5L)
    val means = rows
      .select(col("event_id"), col("value"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .select(col("rep"), col("value"), mult.as("m"))
      .groupBy("rep")
      // empty-resample guard: a resample whose every multiplicity is 0
      // (probability e^-n) has no mean; NULL drops out of the percentiles
      .agg((sum((col("value") * col("m").cast("double"))
        .cast("decimal(28,12)")).cast("double") /
        when(sum(col("m")) > 0L, sum(col("m")).cast("double"))
          .otherwise(lit(null))).as("mean_b"))
    val full = rows.agg(
      (sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("mean_full"))
    means.agg(count(lit(1)).as("n_resamples"),
        expr("percentile(mean_b, 0.025)").as("__lo"),
        expr("percentile(mean_b, 0.975)").as("__hi"))
      .crossJoin(broadcast(full))
      .select(round(col("mean_full"), 6).as("mean_full"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"),
        col("n_resamples"))
  }

  /** Cluster (user-level) bootstrap CI for the per-event mean value —
    * the resampling unit [[bootstrapCi]] gets WRONG for A/B-style data:
    * events within a user are correlated, so row-level resampling
    * understates variance; the honest draw resamples USERS and carries
    * each user's whole event mass. Same deterministic Poisson(1) scheme
    * (portable-hash inverse-CDF ladder, no RNG state), but over the
    * user frame: the corpus pre-aggregates to (user, Σvalue, n) ONCE,
    * so the B-fold explode fans out user-cardinality rows, not events —
    * at 100 TB that is the difference between 32× users and 32× corpus.
    * Each resample mean is the ratio of weighted sums (DECIMAL). */
  def clusterBootstrap(ev: DataFrame, b: Int = 32): DataFrame = {
    import graft.ext.TextFns.portableH60
    val users = ev.filter(col("value").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(28,12)")).cast("double").as("s"),
        count(lit(1)).as("n"))
      .pinned() // resample fan-out and full mean share one pass
    val u = portableH60(concat(col("user_id").cast("string"), lit(":"),
      col("rep").cast("string"))).cast("double") /
      lit(1152921504606846976.0) // 2^60
    val mult = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L).otherwise(5L)
    val means = users
      .select(col("user_id"), col("s"), col("n"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .select(col("rep"), col("s"), col("n"), mult.as("m"))
      .groupBy("rep")
      .agg((sum((col("s") * col("m").cast("double"))
        .cast("decimal(28,12)")).cast("double") /
        when(sum(col("m") * col("n")) > 0L,
          sum(col("m") * col("n")).cast("double"))
          .otherwise(lit(null))).as("mean_b"))
    val full = users.agg(
      (sum(col("s").cast("decimal(28,12)")).cast("double") /
        sum(col("n")).cast("double")).as("mean_full"),
      count(lit(1)).as("n_users"))
    means.agg(count(lit(1)).as("n_resamples"),
        expr("percentile(mean_b, 0.025)").as("__lo"),
        expr("percentile(mean_b, 0.975)").as("__hi"))
      .crossJoin(broadcast(full))
      .select(round(col("mean_full"), 6).as("mean_full"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"),
        col("n_resamples"), col("n_users"))
  }

  /** Two-component 1-D Gaussian-mixture EM over event values, three
    * unrolled iterations — the third iterative-ML-as-relational anchor
    * beside kmeans and the Newton logistic step: each EM round is ONE
    * map-side-collapsing aggregate (responsibilities are a per-row
    * projection against the broadcast single-row parameter frame;
    * γ-weighted sums go DECIMAL), so a round costs exactly one corpus
    * pass and the 3-round plan is the classic unrolled-lineage shape.
    * Deterministic init (μ = exact p25/p75, shared σ, π = ½) keeps the
    * trajectory engine-reproducible; σ floors at 1e-6 against
    * degenerate collapse. The constant 1/√2π cancels in γ and is
    * applied only in the final log-likelihood. */
  def gmmEm(ev: DataFrame, iterations: Int = 3): DataFrame = {
    // every EM round is a full exp()-heavy pass over xs, and the events
    // fixture arrives as ONE unsplittable row group — without the
    // size-adaptive scan floor all `iterations`+2 passes run serially in
    // a single task (measured: 13 one-task ~500ms stages back to back);
    // with it each pass fans out to data-sized partitions. No-op at
    // cluster scale (real corpora arrive already split).
    val xs = graft.Tables.withMinParallelism(
      ev.filter(col("value").isNotNull)
        .select(col("value").as("x"))).pinned()
    val init = xs.agg(
      expr("percentile(x, 0.25)").as("mu1"),
      expr("percentile(x, 0.75)").as("mu2"),
      count(lit(1)).as("n"),
      sqrt(sum((col("x") * col("x")).cast("decimal(28,12)"))
        .cast("double") / count(lit(1)) -
        (sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1))) *
        (sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1)))).as("sd"))
      .select(lit(0.5).as("p1"), col("mu1"),
        greatest(col("sd"), lit(1.0e-6)).as("s1"), col("mu2"),
        greatest(col("sd"), lit(1.0e-6)).as("s2"), col("n"))
    def phi(mu: Column, s: Column): Column =
      exp(-(col("x") - mu) * (col("x") - mu) / (lit(2.0) * s * s)) / s
    def step(params: DataFrame): DataFrame = {
      val a = col("p1") * phi(col("mu1"), col("s1"))
      val b = (lit(1.0) - col("p1")) * phi(col("mu2"), col("s2"))
      // both densities can underflow for far-tail x: 0/0 would be NaN —
      // split the responsibility evenly instead (same guard in the oracle)
      val g = when(a + b > lit(0.0), a / (a + b)).otherwise(lit(0.5))
      def dec(c: Column) = c.cast("decimal(28,12)")
      xs.crossJoin(broadcast(params))
        .select(g.as("g"), col("x"), col("n"))
        .groupBy(col("n"))
        .agg(sum(dec(col("g"))).cast("double").as("sg"),
          sum(dec(col("g") * col("x"))).cast("double").as("sgx"),
          sum(dec(col("g") * col("x") * col("x"))).cast("double")
            .as("sgxx"),
          sum(dec((lit(1.0) - col("g")) * col("x"))).cast("double")
            .as("shx"),
          sum(dec((lit(1.0) - col("g")) * col("x") * col("x")))
            .cast("double").as("shxx"))
        .select((col("sg") / col("n").cast("double")).as("p1"),
          (col("sgx") / col("sg")).as("mu1"),
          greatest(sqrt(col("sgxx") / col("sg") -
            (col("sgx") / col("sg")) * (col("sgx") / col("sg"))),
            lit(1.0e-6)).as("s1"),
          (col("shx") / (col("n").cast("double") - col("sg"))).as("mu2"),
          greatest(sqrt(col("shxx") / (col("n").cast("double") -
            col("sg")) - (col("shx") / (col("n").cast("double") -
            col("sg"))) * (col("shx") / (col("n").cast("double") -
            col("sg")))), lit(1.0e-6)).as("s2"),
          col("n"))
    }
    val fitted = (1 to iterations).foldLeft(init)((p, _) =>
      step(p).pinned())
    // final pass: average log-likelihood under the fitted mixture
    val ll = xs.crossJoin(broadcast(fitted))
      // floor the mixture density away from 0 so an underflowing tail
      // row contributes a large-negative FINITE term, not log(0) = -Inf
      .select(log(greatest((col("p1") * phi(col("mu1"), col("s1")) +
        (lit(1.0) - col("p1")) * phi(col("mu2"), col("s2"))) /
        lit(math.sqrt(2.0 * math.Pi)), lit(1.0e-300)))
        .cast("decimal(28,12)").as("l"))
      .agg(sum(col("l")).cast("double").as("sll"),
        count(lit(1)).as("n2"))
    fitted.crossJoin(broadcast(ll))
      .select(col("n"), r6(col("p1")).as("pi1"),
        r6(col("mu1")).as("mu1"), r6(col("s1")).as("sigma1"),
        r6(col("mu2")).as("mu2"), r6(col("s2")).as("sigma2"),
        r6(col("sll") / col("n2").cast("double")).as("avg_loglik"))
  }

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data screen: observed first-significant-digit frequencies
    * against Benford's log-law expectation. The digit comes from an
    * explicit power-of-ten CASE ladder (threshold compares + one exact
    * division), NOT floor(log10(x)) — log10 at exact powers of ten can
    * round to either side depending on the libm, which would misfile
    * boundary values differently per engine. One map-side projection, one
    * 9-row aggregate. */
  def benford(orders: DataFrame, valueCol: String = "o_totalprice")
      : DataFrame = {
    val x = col(valueCol)
    val mag = when(x >= 1e8, 1e8).when(x >= 1e7, 1e7).when(x >= 1e6, 1e6)
      .when(x >= 1e5, 1e5).when(x >= 1e4, 1e4).when(x >= 1e3, 1e3)
      .when(x >= 1e2, 1e2).when(x >= 1e1, 1e1).otherwise(1.0)
    val digits = orders.filter(x > 0)
      .select(floor(x / mag).cast("bigint").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("n_total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("n_total").cast("double"), 6)
          .as("observed"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)), 6).as("benford"))
      .orderBy("digit")
  }

  /** Mutual information between a bucketed numeric feature and a label —
    * the feature-selection score, relationally: the contingency table is
    * ONE (bucket,label) aggregate (map-side combined, so cells not rows
    * shuffle), the two marginals reaggregate the tiny cell frame, and
    * each cell's (n_xy/N)·ln(n_xy·N/(n_x·n_y)) term is a double over
    * exact integer counts — deterministic everywhere. Output is the
    * per-bucket MI contribution (DECIMAL-summed over labels) so the
    * informative range of the feature is visible, not just the scalar. */
  def mutualInfo(li: DataFrame, bucketWidth: Double = 5.0): DataFrame = {
    val cells = li.select(
        floor(col("l_quantity") / bucketWidth).cast("bigint").as("bucket"),
        col("l_returnflag"))
      .groupBy("bucket", "l_returnflag")
      .agg(count(lit(1)).as("n_xy"))
    val nx = cells.groupBy("bucket").agg(sum(col("n_xy")).as("n_x"))
    val ny = cells.groupBy("l_returnflag").agg(sum(col("n_xy")).as("n_y"))
    val tot = cells.agg(sum(col("n_xy")).as("n_t"))
    val term = (col("n_xy").cast("double") / col("n_t").cast("double")) *
      log((col("n_xy").cast("double") * col("n_t").cast("double")) /
        (col("n_x").cast("double") * col("n_y").cast("double")))
    cells.join(nx, Seq("bucket")).join(ny, Seq("l_returnflag"))
      .crossJoin(broadcast(tot))
      .groupBy("bucket")
      .agg(sum(col("n_xy")).as("n_x"),
        sum(term.cast("decimal(28,12)")).cast("double").as("mi_part"))
      .select(col("bucket"), col("n_x"),
        round(col("mi_part"), 6).as("mi_contribution"))
      .orderBy("bucket")
  }

  /** Histogram-based best-split search for a regression stump — the inner
    * loop of gradient-boosted-tree training, relationally: bucket the
    * feature (map-side projection), aggregate per-bucket target sums in
    * DECIMAL (n, Σy — one shuffle of ≤ groups·buckets cells thanks to the
    * map-side combine), then score every bucket boundary with prefix sums
    * over the TINY histogram via a per-group window. Gain is the classic
    * SSE decomposition Σ²L/nL + Σ²R/nR − Σ²T/nT (the Σy² terms cancel),
    * so only exact decimal-derived doubles enter the argmax; ties break
    * to the lowest boundary. At 100 TB the corpus is touched exactly
    * once — split scoring runs on histogram cells, the same reason
    * LightGBM/XGBoost bin first. */
  def gbdtSplit(li: DataFrame, bucketWidth: Double = 2.0): DataFrame = {
    val hist = li
      .select(col("l_returnflag"),
        floor(col("l_quantity") / bucketWidth).cast("bigint").as("bucket"),
        col("l_extendedprice").as("y"))
      .groupBy("l_returnflag", "bucket")
      .agg(count(lit(1)).as("n"),
        // stays DECIMAL through the window prefix sums: a windowed DOUBLE
        // sum accumulates in engine-specific order (segment trees in some
        // engines) and would break cross-engine parity
        sum(col("y").cast("decimal(18,6)")).as("sy"))
    val w = Window.partitionBy("l_returnflag").orderBy("bucket")
    val wAll = Window.partitionBy("l_returnflag")
    val syL = col("__sy_l").cast("double")
    val syT = col("__sy_t").cast("double")
    val syR = syT - syL
    val scored = hist
      .withColumn("n_l", sum(col("n")).over(w))
      .withColumn("__sy_l", sum(col("sy")).over(w))
      .withColumn("n_t", sum(col("n")).over(wAll))
      .withColumn("__sy_t", sum(col("sy")).over(wAll))
      .filter(col("n_l") < col("n_t")) // a split must leave a right side
      .select(col("l_returnflag"), col("bucket"),
        col("n_l"), (col("n_t") - col("n_l")).as("n_r"),
        (syL * syL / col("n_l") +
          syR * syR / (col("n_t") - col("n_l")) -
          syT * syT / col("n_t")).as("gain"))
    val best = Window.partitionBy("l_returnflag")
      .orderBy(round(col("gain"), 6).desc, col("bucket"))
    scored.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"),
        round((col("bucket") + 1) * bucketWidth, 2).as("split_value"),
        col("n_l"), col("n_r"), round(col("gain"), 4).as("gain"))
      .orderBy("l_returnflag")
  }

  /** Per-group ordinary least squares (y = l_extendedprice on
    * x = l_quantity) via the normal equations — regression as ONE grouped
    * pass: the five moment sums (Σx, Σy, Σx², Σxy, Σy²) accumulate in
    * DECIMAL inside the same map-side combine as any aggregate, and
    * slope/intercept/R² are scalar projections of the moments. No second
    * pass, no driver-side math — the 100 TB shape for fitting millions of
    * per-group models is exactly this one shuffle. Per-row double products
    * are IEEE-deterministic; the decimal cast then makes the SUM
    * order-independent (the q_nation_volume discipline). */
  def linreg(li: DataFrame): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    def dsum(c: Column) = sum(c.cast("decimal(18,6)")).cast("double")
    val n = col("__n")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val den = n * col("__sxx") - col("__sx") * col("__sx")
    // zero-guards (G16): degenerate groups (constant x, or constant y in
    // the R² denominator) yield NULL, not a runtime 0-divide
    val slope = when(den === 0.0, lit(null)).otherwise(num / den)
    val r2den = den * (n * col("__syy") - col("__sy") * col("__sy"))
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("__n"),
        dsum(x).as("__sx"), dsum(y).as("__sy"),
        dsum(x * x).as("__sxx"), dsum(x * y).as("__sxy"),
        dsum(y * y).as("__syy"))
      .select(col("l_returnflag"), n.cast("bigint").as("n"),
        round(slope, 6).as("slope"),
        round((col("__sy") - slope * col("__sx")) / n, 6).as("intercept"),
        round(when(r2den === 0.0, lit(null))
          .otherwise((num * num) / r2den), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Week-over-week revenue growth: ISO-week revenue (decimal sums)
    * with the lag-1 relative change — the weekly business-review table.
    * The lag window runs over the bounded week domain (a few hundred
    * rows), not orders; the growth ratio is a rational of exact
    * decimals → portable floor round (first week NULL). */
  def wowGrowth(orders: DataFrame): DataFrame = {
    val weekly = orders
      .groupBy(trunc(col("o_orderdate").cast("date"), "week").as("week"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
    val prev = lag(col("rev"), 1).over(Window.orderBy("week"))
    weekly.select(col("week"), col("rev"), prev.as("prev"))
      .select(col("week"),
        round(col("rev"), 2).cast("double").as("revenue"),
        r6((col("rev").cast("double") - col("prev").cast("double")) /
          col("prev").cast("double")).as("wow_growth"))
      .orderBy("week")
  }

  /** Exact single change-point detection on the daily order-revenue
    * series (binary-segmentation step 1): the split maximizing the
    * between-segment sum of squares `B(t) = n₁n₂/D·(m₁−m₂)²` — the
    * largest mean shift, the question CUSUM ([[cusumDays]]) flags
    * online and this answers offline. Ties break to the earliest day.
    *
    * Scale shape: the corpus collapses to one row per day (bounded
    * domain, ≤ a few thousand rows) in a map-side-combined groupBy;
    * the prefix sums, the per-split statistic, and the argmax all run
    * on that tiny frame (the single-partition window is bounded by the
    * date domain, not the data — same argument as [[ewmaDaily]]).
    * Prefix revenue accumulates DECIMAL (order-independent); B(t) is
    * then pure IEEE-double arithmetic on exact inputs, identical in
    * any engine, so the argmax is deterministic. */
  def changePoint(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
    val w = Window.orderBy("day")
    val cum = daily.select(col("day"),
      row_number().over(w).cast("bigint").as("t"),
      sum(col("rev")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)).as("s1"))
    val tot = daily.agg(count(lit(1)).as("dd"),
      sum(col("rev")).as("ss"))
    val b = cum.crossJoin(tot).filter(col("t") < col("dd"))
      .select(col("day"), col("t"), col("dd"),
        (col("s1").cast("double") / col("t")).as("m1"),
        ((col("ss") - col("s1")).cast("double") / (col("dd") - col("t")))
          .as("m2"))
      .withColumn("b_stat",
        (col("t") * (col("dd") - col("t"))).cast("double") / col("dd") *
          (col("m1") - col("m2")) * (col("m1") - col("m2")))
    // the means are rationals (decimal/int) that CAN land exactly on a
    // .xx5 boundary — use the portable floor(z·100+0.5) round, not
    // round() (engines disagree on the half mode for doubles)
    def r2(c: Column) = floor(c * lit(100.0) + lit(0.5)) / lit(100.0)
    b.orderBy(col("b_stat").desc, col("day")).limit(1)
      .select(col("day").as("split_day"), col("t").as("n_days_before"),
        (col("dd") - col("t")).as("n_days_after"),
        r2(col("m1")).as("mean_before"),
        r2(col("m2")).as("mean_after"),
        r2(col("b_stat")).as("b_stat"))
  }

  /** Welch's unequal-variance t-test between the deterministic hash-split
    * variants (same split as [[abLift]]/[[ksTest]]) on event value — the
    * parametric companion to the chi-square and KS gates. The whole test
    * is ONE map-side-collapsing aggregate: per-variant n/Σv/Σv² fold as
    * conditional sums into a single row (CASE-guarded DECIMAL sums, so
    * the partials merge order-independently at any executor count), and
    * mean/variance/t/df are scalar projections of those moments —
    * `var = (Σv² − (Σv)²/n)/(n−1)`, Welch–Satterthwaite df. Per-row v²
    * is an IEEE-deterministic double; every later op (−, ×, /, sqrt) is
    * correctly rounded, so the statistic is bit-equal cross-engine and
    * the portable floor round is cosmetic. */
  def welchTTest(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("value").isNotNull && col("user_id").isNotNull)
      .select(Sampling.hashBucket(col("user_id"), 2).as("variant"),
        col("value"))
    def cSum(pred: Column, v: Column) =
      sum(when(pred, v).otherwise(lit(0.0)).cast("decimal(28,12)"))
    val m = rows.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      cSum(col("variant") === 0, col("value")).as("s_a"),
      cSum(col("variant") === 1, col("value")).as("s_b"),
      cSum(col("variant") === 0, col("value") * col("value")).as("ss_a"),
      cSum(col("variant") === 1, col("value") * col("value")).as("ss_b"))
    def d(name: String) = col(name).cast("double")
    val meanA = d("s_a") / d("n_a")
    val meanB = d("s_b") / d("n_b")
    val varA = (d("ss_a") - d("s_a") * d("s_a") / d("n_a")) /
      (d("n_a") - lit(1.0))
    val varB = (d("ss_b") - d("s_b") * d("s_b") / d("n_b")) /
      (d("n_b") - lit(1.0))
    val seA = varA / d("n_a")
    val seB = varB / d("n_b")
    val se2 = seA + seB
    m.select(col("n_a"), col("n_b"),
      r6(meanA).as("mean_a"), r6(meanB).as("mean_b"),
      r6(varA).as("var_a"), r6(varB).as("var_b"),
      r6((meanA - meanB) / sqrt(se2)).as("t_stat"),
      r6(se2 * se2 / (seA * seA / (d("n_a") - lit(1.0)) +
        seB * seB / (d("n_b") - lit(1.0)))).as("df_welch"))
  }

  /** t-closeness audit — the third leg of the k-anonymity / l-diversity
    * release gate: a quasi-identifier group whose SENSITIVE-attribute
    * distribution sits far from the corpus-wide one leaks membership
    * signal even when it is large (k-safe) and diverse (l-safe). Quasi
    * key is (day, value bucket); the sensitive attribute is event_type —
    * categorical, so the Earth-Mover distance reduces to total variation
    * ½·Σ|pᵢ−qᵢ|. Types ABSENT from a group still contribute their global
    * mass qᵢ, folded in closed form: Σ|p−q| = 1 + Σ_{i∈group}(|pᵢ−qᵢ|−qᵢ),
    * so the per-group pass only touches cells that exist. Shape: one
    * corpus aggregate to (quasi × type) cells, a group-cardinality join
    * for group totals, the type-cardinality global frame broadcast; the
    * report is one row. Per-term rationals go double → DECIMAL so the
    * group sum merges order-independently. */
  def tCloseness(ev: DataFrame, tMax: Double = 0.2): DataFrame = {
    val rows = ev.filter(col("event_type").isNotNull &&
        col("ts").isNotNull && col("value").isNotNull)
      .select(to_date(col("ts")).as("d"),
        floor(col("value") / 50.0).cast("bigint").as("vb"),
        col("event_type"))
    val cells = rows.groupBy("d", "vb", "event_type")
      .agg(count(lit(1)).as("c"))
    val grpTot = cells.groupBy("d", "vb").agg(sum(col("c")).as("ng"))
    val glob = cells.groupBy("event_type").agg(sum(col("c")).as("g"))
      .crossJoin(broadcast(cells.agg(sum(col("c")).as("n_all"))))
    val term = abs(col("c").cast("double") / col("ng").cast("double") -
        col("g").cast("double") / col("n_all").cast("double")) -
      col("g").cast("double") / col("n_all").cast("double")
    val perGroup = cells
      .join(grpTot, Seq("d", "vb"))
      .join(broadcast(glob), Seq("event_type"))
      .groupBy("d", "vb")
      .agg(max(col("ng")).as("n"),
        sum(term.cast("decimal(28,12)")).as("ts"))
      .withColumn("tvd",
        lit(0.5) * (lit(1.0) + col("ts").cast("double")))
    perGroup.agg(count(lit(1)).as("n_groups"),
        r6(max(col("tvd"))).as("max_tvd"),
        sum(when(col("tvd") > tMax, 1L).otherwise(0L)).as("n_wide_groups"),
        sum(when(col("tvd") > tMax, col("n")).otherwise(0L))
          .as("rows_at_risk"))
      .withColumn("t_max", lit(tMax))
  }

  /** Data-freshness / staleness SLO report: per event type, the last
    * observed day, its lag behind the corpus horizon, and the trailing
    * 7-day volume — the monitoring table a pipeline owner pages on when
    * a source silently stops emitting. One corpus aggregate collapses to
    * the (type × day) frame map-side; the horizon is a one-row broadcast;
    * everything after runs on day-cardinality data. */
  def stalenessReport(ev: DataFrame, maxLagDays: Int = 3): DataFrame = {
    val daily = ev.filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val hor = daily.agg(max(col("d")).as("horizon"))
    daily.crossJoin(broadcast(hor))
      .groupBy("event_type")
      .agg(max(col("d")).as("last_day"),
        sum(col("c")).as("n_rows"),
        sum(when(col("d") >= date_sub(col("horizon"), 6), col("c"))
          .otherwise(0L)).as("n_last7"),
        datediff(max(col("horizon")), max(col("d"))).cast("bigint")
          .as("lag_days"))
      .withColumn("is_stale", (col("lag_days") > maxLagDays).cast("int"))
      .select(col("event_type"), col("n_rows"), col("last_day"),
        col("lag_days"), col("n_last7"), col("is_stale"))
      .orderBy("event_type")
  }

  /** Brown's double exponential smoothing (α = ½) of daily revenue —
    * level, trend, and the one-step forecast a monitoring dashboard
    * projects forward: s2 = EWMA(EWMA(x)), level = 2s1 − s2,
    * trend = s1 − s2 (α/(1−α) = 1), forecast = level + trend. Both
    * smoothing passes reuse [[ewmaDaily]]'s exact dyadic kernel (weights
    * are integer bit-shifts — `pow` has no cross-libm guarantee, shifts
    * do; per-term doubles go DECIMAL before the sum). The convolutions
    * run on the DAY frame — domain-bounded, never data-scale — behind
    * one corpus aggregate; weights beyond 2⁻⁶² underflow the rounding
    * and are dropped. */
  /** [[ewmaDaily]]'s exact dyadic α=½ smoothing kernel over a (d, t,
    * valCol) day frame — shared by [[brownTrend]] (twice) and
    * [[forecastEval]]. Bit-shift weights, per-term doubles into DECIMAL;
    * the pair join is day-frame-bounded. */
}
