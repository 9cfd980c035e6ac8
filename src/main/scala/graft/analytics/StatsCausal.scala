package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.functions.CleanFns.r6

/** StatsAnalytics, part 3 of 4: smoothing/forecast folds and the
  * causal-inference wave - dyadicSmooth .. spearmanOnPairs. */
private[analytics] trait StatsCausal {
  this: StatsAnalytics.type =>
  private def dyadicSmooth(src: DataFrame, valCol: String,
                           outCol: String): DataFrame =
    src.select(col("d"), col("t"))
      // broadcast: the (t, x) side is the DAY frame — domain-bounded at
      // any corpus size — and the non-equi band join must not fall back
      // to a CartesianProduct when its input hides behind a checkpoint
      // with unknown stats
      .join(broadcast(src.select(col("t").as("j"), col(valCol).as("xj"))),
        col("j") <= col("t") && col("t") - col("j") <= lit(62))
      .withColumn("k",
        when(col("j") === 1, col("t") - lit(1))
          .otherwise(col("t") - col("j") + lit(1)))
      .withColumn("term", col("xj") /
        expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))")
          .cast("double"))
      .groupBy("d", "t")
      .agg(sum(col("term").cast("decimal(28,10)")).cast("double")
        .as(outCol))

  def brownTrend(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
      .withColumn("t", row_number().over(Window.orderBy("d")))
      // day-frame barrier: both convolution passes and the final join
      // read this ≤|days| frame, not the corpus
      .pinned()
    val withS1 = daily.join(dyadicSmooth(daily, "x", "v1"), Seq("d", "t"))
    val out = withS1.join(dyadicSmooth(withS1, "v1", "v2"), Seq("d", "t"))
    def r4(c: Column) = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
    out.select(col("d"), col("x").as("daily_revenue"),
        r4(col("v1")).as("s1"), r4(col("v2")).as("s2"),
        r4(lit(2.0) * col("v1") - col("v2")).as("level"),
        r4(col("v1") - col("v2")).as("trend"),
        r4((lit(2.0) * col("v1") - col("v2")) +
          (col("v1") - col("v2"))).as("forecast_next"))
      .orderBy("d")
  }

  /** Rolling-origin one-step forecast backtest: for every day t ≥ 2,
    * score yesterday's two forecasters against today's actual — the
    * NAIVE carry-forward x_{t−1} and the EWMA level s1_{t−1} (the exact
    * dyadic smoother of [[ewmaDaily]]) — and report MAE / RMSE / MAPE
    * per model. This is the eval loop that decides whether the smoother
    * earns its keep before anyone trusts [[brownTrend]]'s projections.
    * One corpus aggregate builds the day frame; the backtest itself is
    * day-frame-bounded (lag window + two one-row aggregates). Error
    * terms are IEEE-deterministic doubles folded through DECIMAL, so
    * every metric is engine-exact. */
  /** Consensus anomaly report over the daily-revenue series: a day is
    * surfaced only when at least two of three INDEPENDENT detectors
    * agree — z-score (mean/σ), Tukey fences (quartiles/IQR), and
    * modified z (median/MAD) — the standard false-positive reducer for
    * paging: each detector alone has a known failure mode (z is dragged
    * by the outliers themselves, fences go degenerate on tiny IQR, MAD
    * dies on over-50% flat series), and their intersection pages far
    * less. All thresholds derive from ONE day-frame stats pass
    * broadcast back; the flags are integer comparisons of
    * engine-identical doubles. */
  def anomalyConsensus(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("v"))
      .pinned() // the stats pass and the flag pass share it
    def dec(c: Column) = c.cast("decimal(28,10)")
    val stats = daily.agg(count(lit(1)).as("n"),
        sum(dec(col("v"))).cast("double").as("s"),
        sum(dec(col("v") * col("v"))).cast("double").as("ss"),
        expr("percentile(v, 0.25)").as("q1"),
        expr("percentile(v, 0.5)").as("med"),
        expr("percentile(v, 0.75)").as("q3"))
      .select(
        (col("s") / col("n").cast("double")).as("mu"),
        sqrt(greatest(col("ss") / col("n").cast("double") -
          (col("s") / col("n").cast("double")) *
          (col("s") / col("n").cast("double")), lit(0.0))).as("sd"),
        col("q1"), col("med"), col("q3"))
    val mad = daily.crossJoin(broadcast(stats))
      .select(abs(col("v") - col("med")).as("ad"))
      .agg(expr("percentile(ad, 0.5)").as("mad"))
    val iqr = col("q3") - col("q1")
    val zFlag = (col("sd") > 0.0 &&
      abs(col("v") - col("mu")) > lit(2.0) * col("sd")).cast("int")
    val fenceFlag = (col("v") < col("q1") - lit(1.5) * iqr ||
      col("v") > col("q3") + lit(1.5) * iqr).cast("int")
    val madFlag = (col("mad") > 0.0 &&
      abs(col("v") - col("med")) > lit(2.0) * lit(1.4826) * col("mad"))
      .cast("int")
    // the full per-day flag table ships (a quiet month legitimately has
    // zero consensus rows — the report should still show the votes);
    // the paging rule is the n_methods >= 2 filter downstream
    daily.crossJoin(broadcast(stats)).crossJoin(broadcast(mad))
      .select(col("d"), col("v"), zFlag.as("z_flag"),
        fenceFlag.as("fence_flag"), madFlag.as("mad_flag"))
      .withColumn("n_methods",
        (col("z_flag") + col("fence_flag") + col("mad_flag"))
          .cast("bigint"))
      .orderBy("d")
  }

  /** Seasonal-naive one-step backtest — the third arm beside
    * [[forecastEval]]'s naive and EWMA: forecast each day with the
    * value from SEVEN days earlier (the weekly cycle
    * [[graft.analytics.EventAnalytics.seasonalStrength]] found is
    * real), scored with the same MAE/RMSE/MAPE. If this beats plain
    * naive, every monitor baseline should be seasonal. Day-frame lag
    * window only; error terms in DECIMAL. */
  def forecastSeasonalNaive(ev: DataFrame, season: Int = 7): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
    val w = Window.orderBy(col("d"))
    val scored = daily
      .withColumn("fc", lag(col("x"), season).over(w))
      .filter(col("fc").isNotNull)
    def dec(c: Column) = c.cast("decimal(28,10)")
    val m = scored.agg(count(lit(1)).as("n_days"),
      sum(dec(abs(col("x") - col("fc")))).cast("double").as("sae"),
      sum(dec((col("x") - col("fc")) * (col("x") - col("fc"))))
        .cast("double").as("sse"),
      sum((abs(col("x") - col("fc")) / col("x")).cast("decimal(28,12)"))
        .cast("double").as("sape"))
    m.select(lit("seasonal_naive").as("model"), col("n_days"),
      r6(col("sae") / col("n_days").cast("double")).as("mae"),
      r6(sqrt(col("sse") / col("n_days").cast("double"))).as("rmse"),
      r6(col("sape") / col("n_days").cast("double") * lit(100.0))
        .as("mape_pct"))
  }

  /** One-day Value-at-Risk / CVaR of the daily-revenue CHANGE series —
    * the risk summary a revenue monitor quotes ("with 95% confidence,
    * tomorrow loses at most X; when it breaches, the expected loss is
    * Y"): exact 5th percentile of day-over-day deltas, and the mean of
    * the deltas at or below it. Day-frame lag + two aggregates; the
    * CVaR mass selects on the r6-ROUNDED VaR so both engines cut the
    * identical tail. */
  def revenueVar(ev: DataFrame, q: Double = 0.05): DataFrame = {
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
    val w = Window.orderBy(col("d"))
    val deltas = daily
      .withColumn("dx", col("x") - lag(col("x"), 1).over(w))
      .filter(col("dx").isNotNull)
      .select(col("dx")).pinned()
    val v = deltas.agg(count(lit(1)).as("n_days"),
        expr(s"percentile(dx, $q)").as("var_raw"))
      .select(col("n_days"), r6(col("var_raw")).as("var_95"))
    val cvar = deltas.crossJoin(broadcast(v))
      .filter(col("dx") <= col("var_95"))
      .agg(count(lit(1)).as("n_tail"),
        (sum(col("dx").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("cvar_raw"))
    v.crossJoin(broadcast(cvar))
      .select(col("n_days"), col("var_95"), col("n_tail"),
        r6(col("cvar_raw")).as("cvar_95"))
  }

  def forecastEval(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
      .withColumn("t", row_number().over(Window.orderBy("d")))
      .pinned()
    val w = Window.orderBy("t")
    val base = daily.join(dyadicSmooth(daily, "x", "s1"), Seq("d", "t"))
      .withColumn("naive_fc", lag(col("x"), 1).over(w))
      .withColumn("ewma_fc", lag(col("s1"), 1).over(w))
      .filter(col("t") >= 2)
      .pinned()
    def report(fcCol: String, name: String): DataFrame = {
      val err = col("x") - col(fcCol)
      base.agg(count(lit(1)).as("n_days"),
          sum(abs(err).cast("decimal(28,10)")).cast("double").as("sae"),
          sum((err * err).cast("decimal(28,10)")).cast("double").as("sse"),
          sum((abs(err) / col("x")).cast("decimal(28,12)")).cast("double")
            .as("sape"))
        .select(lit(name).as("model"), col("n_days"),
          r6(col("sae") / col("n_days").cast("double")).as("mae"),
          r6(sqrt(col("sse") / col("n_days").cast("double"))).as("rmse"),
          r6(col("sape") / col("n_days").cast("double") * lit(100.0))
            .as("mape_pct"))
    }
    report("naive_fc", "naive").unionAll(report("ewma_fc", "ewma"))
      .orderBy("model")
  }

  /** Cochran–Mantel–Haenszel test of variant × conversion association
    * STRATIFIED by day — the Simpson's-paradox-safe companion to the
    * marginal [[chiSquare]]: pooling days can manufacture or hide an
    * association when traffic mix shifts; CMH sums each day's 2×2
    * evidence (aₖ − Eₖ) and variance before squaring. Per-stratum cells
    * are exact integers over (day, user) units (a user converts on a day
    * iff any purchase event lands there); Eₖ and Vₖ are rationals of
    * those integers, folded through DECIMAL so the stratum sum is
    * order-independent. Shape: one corpus aggregate to (day, user)
    * units, one to day strata, one to the scalar — no joins, no
    * windows. */
  def cmhTest(ev: DataFrame): DataFrame = {
    val units = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"),
        Sampling.hashBucket(col("user_id"), 2).as("variant"),
        col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("conv"))
    val strata = units.groupBy("d")
      .agg(
        sum(when(col("variant") === 0 && col("conv") === 1, 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("r1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("r2"),
        sum(col("conv").cast("long")).as("c1"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    def dd(c: Column) = c.cast("double")
    val e = dd(col("r1")) * dd(col("c1")) / dd(col("n"))
    val v = dd(col("r1")) * dd(col("r2")) * dd(col("c1")) *
      (dd(col("n")) - dd(col("c1"))) /
      (dd(col("n")) * dd(col("n")) * (dd(col("n")) - lit(1.0)))
    strata.agg(count(lit(1)).as("n_strata"),
        sum(col("a")).as("sum_a"),
        sum(e.cast("decimal(28,12)")).as("__se"),
        sum(v.cast("decimal(28,12)")).as("__sv"))
      .select(col("n_strata"), col("sum_a"),
        r6(col("__se").cast("double")).as("sum_expected"),
        r6((col("sum_a").cast("double") - col("__se").cast("double")) *
          (col("sum_a").cast("double") - col("__se").cast("double")) /
          col("__sv").cast("double")).as("cmh_stat"))
  }

  /** Difference-in-differences over the deterministic hash variants and
    * the corpus time halves: DiD = (treat_post − treat_pre) −
    * (ctrl_post − ctrl_pre) on mean event value — the quasi-experimental
    * readout when randomized exposure is unavailable and both groups
    * share a pre-period trend. The four cell means come from ONE
    * map-side-collapsing aggregate (DECIMAL sums, exact counts); the
    * midpoint is a one-row broadcast. */
  def diffInDiff(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(Sampling.hashBucket(col("user_id"), 2).as("variant"),
        to_date(col("ts")).as("d"), col("value"))
    val span = rows.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      // floor() explicitly: Spark's double→int cast truncates but
      // DuckDB's rounds — floor is the one half-mode both share
      .select(date_add(col("d0"),
        floor(datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
    val m = rows.crossJoin(broadcast(span))
      .withColumn("post", (col("d") > col("mid")).cast("int"))
    def cell(vr: Int, po: Int) = {
      val p = col("variant") === vr && col("post") === po
      (sum(when(p, col("value")).otherwise(lit(0.0))
        .cast("decimal(28,12)")),
        sum(when(p, 1L).otherwise(0L)))
    }
    val ((s00, n00), (s01, n01)) = (cell(0, 0), cell(0, 1))
    val ((s10, n10), (s11, n11)) = (cell(1, 0), cell(1, 1))
    val agg = m.agg(s00.as("s00"), n00.as("n00"), s01.as("s01"),
      n01.as("n01"), s10.as("s10"), n10.as("n10"), s11.as("s11"),
      n11.as("n11"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    agg.select(col("n00"), col("n01"), col("n10"), col("n11"),
      r6(mean("s00", "n00")).as("ctrl_pre"),
      r6(mean("s01", "n01")).as("ctrl_post"),
      r6(mean("s10", "n10")).as("treat_pre"),
      r6(mean("s11", "n11")).as("treat_post"),
      r6((mean("s11", "n11") - mean("s10", "n10")) -
        (mean("s01", "n01") - mean("s00", "n00"))).as("did"))
  }

  /** Sample-ratio-mismatch guardrail: the first check every A/B readout
    * runs BEFORE looking at any metric — if the observed variant split
    * deviates from the designed 50/50 beyond chance, the assignment
    * path is broken and the experiment is invalid regardless of lift.
    * One-dof chi-square against the expected half-half counts, flagged
    * at the conventional χ² > 10.83 (p < 0.001) bar. One map-side-
    * collapsing aggregate; every output is a rational of exact
    * integers. */
  def srmCheck(ev: DataFrame): DataFrame = {
    val m = ev.filter(col("user_id").isNotNull)
      .select(Sampling.hashBucket(col("user_id"), 2).as("variant"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n_a")) + d(col("n_b"))
    val e = n / lit(2.0)
    val chi2 = (d(col("n_a")) - e) * (d(col("n_a")) - e) / e +
      (d(col("n_b")) - e) * (d(col("n_b")) - e) / e
    m.select(col("n_a"), col("n_b"),
      r6(d(col("n_a")) / n).as("ratio_a"),
      r6(chi2).as("chi2"),
      (chi2 > lit(10.83)).cast("int").as("srm_flag"))
  }

  /** Randomized-response local-DP audit (Warner's mechanism): each row
    * reports its true bit ("is a purchase") with probability ¾ and the
    * flipped bit with probability ¼, and the aggregator debiases the
    * observed rate: π̂ = (p_obs − ¼) / ½. The flip is the DETERMINISTIC
    * portable hash of the row key (the [[bootstrapCi]] discipline: no RNG
    * state, bit-identical in the oracle), so the audit can also report
    * the true rate and the mechanism's actual estimation error — the
    * utility-vs-privacy table a release gate reads. One map-side-
    * collapsing aggregate; every output is a rational of exact integers. */
  def randomizedResponse(ev: DataFrame): DataFrame = {
    val bit = (col("event_type") === "purchase").cast("int")
    val flip = (Sampling.hashBucket(col("event_id"), 4) === 0).cast("int")
    val rows = ev.filter(col("event_type").isNotNull)
      .select(bit.as("b"), flip.as("f"))
      .withColumn("r", col("b") + col("f") - lit(2) * col("b") * col("f"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(col("b").cast("long")).as("sb"),
      sum(col("r").cast("long")).as("sr"))
    def d(c: Column) = c.cast("double")
    val pTrue = d(col("sb")) / d(col("n"))
    val pObs = d(col("sr")) / d(col("n"))
    val pEst = (pObs - lit(0.25)) / lit(0.5)
    m.select(col("n"), col("sb").as("n_true_pos"),
      col("sr").as("n_reported_pos"),
      r6(pTrue).as("p_true"), r6(pObs).as("p_observed"),
      r6(pEst).as("p_estimated"), r6(abs(pEst - pTrue)).as("abs_err"))
  }

  /** Mann–Whitney rank-sum test — the distribution-free sibling of
    * [[welchTTest]], on the same deterministic hash-split A/B variants:
    * does per-user activity DISTRIBUTION differ between the two arms,
    * with NO normality assumption (counts are right-skewed, so Welch's
    * t alone over-trusts its tails)? The ranked variable is the
    * per-user event count — a small integer, so the rank computation
    * runs over its VALUE CENSUS (one row per distinct count — bounded
    * by the busiest user, not by user cardinality), never over the user
    * frame: average ranks come from an exclusive cumulative sum over
    * the census, tie correction Σ(t³−t) from the same census in exact
    * integers, and the rank-sum R_a is a DECIMAL sum of .5-grain
    * rationals (order-independent partial merges). Reports U for both
    * arms and the tie-corrected normal z. */
  def mannWhitney(ev: DataFrame): DataFrame =
    mannWhitneyOnGroups(ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("x"))
      .withColumn("g", Sampling.hashBucket(col("user_id"), 2)))

  /** [[mannWhitney]] over a prebuilt (x, g ∈ {0,1}) unit frame — the
    * hand-traceable core. */
  private[graft] def mannWhitneyOnGroups(per: DataFrame): DataFrame = {
    val census = per.groupBy("x")
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("cb"))
    // global window, but over the value census (distinct per-user event
    // counts — domain-bounded), never the user frame: see PLANS.md's
    // global-window index
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = census
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("below", coalesce(sum(col("ca") + col("cb")).over(w),
        lit(0L)))
      .withColumn("avg_rank", col("below").cast("double") +
        (col("t").cast("double") + lit(1.0)) / lit(2.0))
    val m = ranked.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum((col("ca").cast("double") * col("avg_rank"))
        .cast("decimal(28,12)")).as("ra"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    def d(c: Column) = c.cast("double")
    val nA = d(col("n_a")); val nB = d(col("n_b")); val n = nA + nB
    val uA = d(col("ra")) - nA * (nA + lit(1.0)) / lit(2.0)
    val mu = nA * nB / lit(2.0)
    val sigma = sqrt(nA * nB / lit(12.0) *
      ((n + lit(1.0)) - d(col("tsum")) / (n * (n - lit(1.0)))))
    m.select(col("n_a"), col("n_b"),
      r6(uA).as("u_a"), r6(nA * nB - uA).as("u_b"),
      r6(mu).as("mu_u"), r6(sigma).as("sigma_u"),
      // sigma = 0 ⇔ one arm is empty or every unit ties — z = 0, not ÷0
      r6(when(sigma > lit(0.0), (uA - mu) / sigma).otherwise(lit(0.0)))
        .as("z"))
  }

  /** Instrumental-variable Wald estimator — the causal family's answer
    * when treatment is self-selected but an as-if-random INSTRUMENT
    * shifts it: here Z = "user's first event fell in the morning"
    * (hour < 12 — first-touch timing is plausibly exogenous to later
    * spend), treatment T = heavy clicker (≥ 14 clicks, the corpus
    * median split), outcome Y = total purchase value. LATE =
    * (Ȳ_{Z=1} − Ȳ_{Z=0}) / (T̄_{Z=1} − T̄_{Z=0}) — the effect of heavy
    * clicking for instrument-compliers, immune to the confounding that
    * biases the naive heavy-vs-light contrast. The first stage ships
    * beside the estimate with a weak-instrument flag (empty arm OR
    * |first stage| < 0.01): a Wald ratio over a null first stage is
    * noise, and the flag says so instead of letting the ratio explode
    * (0-guarded). On the fixtures both paths run: sf0.01's first stage
    * clears the gate (LATE reported), sf0.1's does not (flag = 1).
    *
    * Scale shape: one user aggregate (shuffle on user, map-side
    * combined), then a one-row conditional fold — nothing else moves.
    * Per-user revenue folds through DECIMAL(18,6) (the revenue
    * discipline), so Y is bit-stable across engines. */
  def waldIv(ev: DataFrame, clickSplit: Long = 14L): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"),
        (sum(when(col("event_type") === "click", 1L).otherwise(0L)) >=
          clickSplit).cast("long").as("t"),
        sum(when(col("event_type") === "purchase",
            coalesce(col("value"), lit(0.0))).otherwise(lit(0.0))
          .cast("decimal(18,6)")).as("yd"))
      .select((hour(col("first_ts")) < 12).cast("int").as("z"), col("t"),
        col("yd").cast("double").as("y"))
    def dec(c: Column) = c.cast("decimal(28,12)")
    def d(c: Column) = c.cast("double")
    val m = per.agg(
      sum(when(col("z") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("z") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("z") === 1, dec(col("y")))
        .otherwise(lit(0).cast("decimal(28,12)"))).cast("double")
        .as("sy1"),
      sum(when(col("z") === 0, dec(col("y")))
        .otherwise(lit(0).cast("decimal(28,12)"))).cast("double")
        .as("sy0"),
      sum(when(col("z") === 1, col("t")).otherwise(0L)).as("st1"),
      sum(when(col("z") === 0, col("t")).otherwise(0L)).as("st0"))
    val ok = col("n1") > 0L && col("n0") > 0L
    // divisors are STRUCTURALLY nonzero (greatest / sentinel), with the
    // `when(ok, …)` gates supplying the semantics: codegen's common-
    // subexpression elimination hoists shared subexpressions OUT of
    // CASE branches, so under ANSI mode a guarded-but-shared x/n with
    // n = 0 still throws DIVIDE_BY_ZERO — the divisor itself must never
    // be zero. (Empty-arm case: st1 = sy1 = 0, so /1 yields 0 anyway.)
    val y1 = d(col("sy1")) / d(greatest(col("n1"), lit(1L)))
    val y0 = d(col("sy0")) / d(greatest(col("n0"), lit(1L)))
    val t1 = d(col("st1")) / d(greatest(col("n1"), lit(1L)))
    val t0 = d(col("st0")) / d(greatest(col("n0"), lit(1L)))
    val fs = t1 - t0
    val fsDiv = when(abs(fs) >= lit(0.01), fs).otherwise(lit(1.0))
    m.select(col("n1").as("n_z1"), col("n0").as("n_z0"),
      r6(when(ok, y1).otherwise(lit(0.0))).as("y_mean_z1"),
      r6(when(ok, y0).otherwise(lit(0.0))).as("y_mean_z0"),
      r6(when(ok, fs).otherwise(lit(0.0))).as("first_stage"),
      // 1 = do NOT trust wald_late: empty arm OR null first stage
      when(ok && abs(fs) >= lit(0.01), 0).otherwise(1)
        .cast("int").as("weak_instrument"),
      r6(when(ok && abs(fs) >= lit(0.01), (y1 - y0) / fsDiv)
        .otherwise(lit(0.0))).as("wald_late"))
  }

  /** Sharp regression-discontinuity estimate at an order-price cutoff:
    * does the average line-item discount JUMP as orders cross the
    * threshold? Local linear fits on each side of the cutoff within a
    * bandwidth (the standard RDD estimator): per side, OLS of per-order
    * mean discount on the centered running variable u = price − cutoff;
    * τ = α_right − α_left is the discontinuity at u = 0. Closed-form
    * OLS over conditional sums (the [[grouped-OLS|discount-elasticity]]
    * discipline), every fold through DECIMAL; degenerate sides (n < 2
    * or zero variance) report 0 with the n columns saying why.
    *
    * Scale shape: the band filter prunes orders FIRST (pushdown-able
    * predicate), the banded keys join lineitem (AQE broadcasts the
    * small banded side at any scale where RDD is meaningful), one
    * per-order aggregate, one one-row conditional fold. */
  def rdd(orders: DataFrame, lineitem: DataFrame,
          cutoff: Double = 150000.0, bandwidth: Double = 30000.0)
      : DataFrame = {
    val band = orders.select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("x"))
      .filter(abs(col("x") - lit(cutoff)) <= lit(bandwidth))
    def dec(c: Column) = c.cast("decimal(28,12)")
    def d(c: Column) = c.cast("double")
    val perOrder = lineitem
      .join(band, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("x"))
      .agg((sum(col("l_discount").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("y"))
      .select((col("x") - lit(cutoff)).as("u"), col("y"),
        (col("x") >= lit(cutoff)).cast("int").as("side"))
    def side(s: Int, c: Column) =
      sum(when(col("side") === s, dec(c))
        .otherwise(lit(0).cast("decimal(28,12)"))).cast("double")
    def sideN(s: Int) = sum(when(col("side") === s, 1L).otherwise(0L))
    val m = perOrder.agg(
      sideN(0).as("nl"), sideN(1).as("nr"),
      side(0, col("u")).as("sul"), side(1, col("u")).as("sur"),
      side(0, col("y")).as("syl"), side(1, col("y")).as("syr"),
      side(0, col("u") * col("y")).as("suyl"),
      side(1, col("u") * col("y")).as("suyr"),
      side(0, col("u") * col("u")).as("suul"),
      side(1, col("u") * col("u")).as("suur"))
    def alpha(n: Column, su: Column, sy: Column, suy: Column,
              suu: Column): (Column, Column) = {
      val den = d(n) * suu - su * su
      // sentinel divisor: the shared den subexpression gets hoisted out
      // of the CASE branches by codegen CSE, so under ANSI the divisor
      // itself must be structurally nonzero (the waldIv discipline)
      val denDiv = when(den =!= 0.0, den).otherwise(lit(1.0))
      (when(n >= 2L && den =!= 0.0,
        (sy * suu - su * suy) / denDiv).otherwise(lit(0.0)),
        when(n >= 2L && den =!= 0.0,
          (d(n) * suy - su * sy) / denDiv).otherwise(lit(0.0)))
    }
    val (al, bl) = alpha(col("nl"), col("sul"), col("syl"),
      col("suyl"), col("suul"))
    val (ar, br) = alpha(col("nr"), col("sur"), col("syr"),
      col("suyr"), col("suur"))
    m.select(col("nl").as("n_left"), col("nr").as("n_right"),
      r6(al).as("alpha_left"), r6(ar).as("alpha_right"),
      r6(bl).as("slope_left"), r6(br).as("slope_right"),
      r6(ar - al).as("tau_jump"))
  }

  /** Per-segment overdispersion check of per-customer order counts —
    * the "is Poisson even plausible" gate before any count model
    * (negative-binomial vs Poisson is THE first modeling fork):
    * dispersion D = s²/x̄ per market segment, with the index-of-
    * dispersion statistic (n−1)·D ~ χ²(n−1) under Poisson. D ≫ 1 means
    * clumping (model with NB), D ≪ 1 regularity. The flag compares D
    * against a stated literal 1.5. Variance via the exact sums
    * (Σx, Σx² are integers — no cancellation), divisors structurally
    * guarded (waldIv discipline).
    *
    * Scale shape: one customer aggregate, one segment-bounded fold. */
  def overdispersion(orders: DataFrame, customer: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("x"))
    def d(c: Column) = c.cast("double")
    val m = per.groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val ok = col("n") > 1L && col("sx") > 0L
    val mean = d(col("sx")) / d(greatest(col("n"), lit(1L)))
    val variance = (d(col("sxx")) - d(col("sx")) * d(col("sx")) /
      d(greatest(col("n"), lit(1L)))) /
      d(greatest(col("n") - 1L, lit(1L)))
    val meanDiv = when(mean =!= 0.0, mean).otherwise(lit(1.0))
    val disp = variance / meanDiv
    m.select(col("segment"), col("n"),
      r6(mean).as("mean_count"),
      r6(when(ok, variance).otherwise(lit(0.0))).as("var_count"),
      r6(when(ok, disp).otherwise(lit(0.0))).as("dispersion"),
      r6(when(ok, (d(col("n")) - lit(1.0)) * disp).otherwise(lit(0.0)))
        .as("chi2_stat"),
      when(ok && disp > lit(1.5), 1).otherwise(0).cast("int")
        .as("overdispersed_at_1_5"))
      .orderBy("segment")
  }

  /** Two-round iterative proportional fitting (raking) of the
    * weekday × event-type cell counts to UNIFORM target margins — the
    * survey-weighting step that rebalances a logged sample to known
    * population margins: round 1 scales every cell so each weekday row
    * sums to total/7, round 2 rescales so each event-type column sums
    * to total/|types|. Reports per-cell raw counts, the raked weight,
    * and the post-fit row/column margin residuals (column margins fit
    * exactly after round 2; row margins show the classic one-round
    * drift that further IPF rounds would shrink). Bounded cells (≤ 7 ×
    * |types|), all ratios double with DECIMAL margin folds, divisors
    * structurally nonzero.
    *
    * Scale shape: one corpus aggregate into the bounded cell census;
    * both IPF rounds are cell-frame algebra. */
  def raking(ev: DataFrame): DataFrame = {
    val cells = ev.filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(((floor(unix_micros(col("ts")) / lit(86400000000L)) +
        lit(4)) % 7).cast("int").as("dow"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .pinned() // both rounds and the total read it
    def dec(c: Column) = c.cast("decimal(28,12)")
    def d(c: Column) = c.cast("double")
    val tot = cells.agg(sum(col("n")).as("nt"),
      countDistinct(col("dow")).as("n_rows"),
      countDistinct(col("event_type")).as("n_cols"))
    val base = cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("event_type"), col("n"),
        (d(col("nt")) / d(col("n_rows"))).as("t_row"),
        (d(col("nt")) / d(col("n_cols"))).as("t_col"))
    // round 1: fit row (dow) margins
    val rowSum = base.groupBy("dow")
      .agg(sum(dec(col("n"))).cast("double").as("rs"))
    val w1 = base.join(broadcast(rowSum), Seq("dow"))
      .select(col("dow"), col("event_type"), col("n"), col("t_row"),
        col("t_col"),
        (d(col("n")) * col("t_row") /
          when(col("rs") =!= 0.0, col("rs")).otherwise(lit(1.0)))
          .as("w"))
    // round 2: fit column (event_type) margins
    val colSum = w1.groupBy("event_type")
      .agg(sum(dec(col("w"))).cast("double").as("cs"))
    val w2 = w1.join(broadcast(colSum), Seq("event_type"))
      .select(col("dow"), col("event_type"), col("n"), col("t_row"),
        (col("w") * col("t_col") /
          when(col("cs") =!= 0.0, col("cs")).otherwise(lit(1.0)))
          .as("w"))
    // residual: how far each dow row still is from its target margin
    val rowResid = w2.groupBy("dow")
      .agg(sum(dec(col("w"))).cast("double").as("rs2"),
        max(col("t_row")).as("tr"))
      .select(col("dow"), (col("rs2") - col("tr")).as("row_resid"))
    w2.join(broadcast(rowResid), Seq("dow"))
      .select(col("dow"), col("event_type"), col("n"),
        r6(col("w")).as("raked_weight"),
        r6(col("row_resid")).as("row_margin_residual"))
      .orderBy("dow", "event_type")
  }

  /** VanderWeele–Ding E-value for unmeasured confounding — the
    * sensitivity number every observational contrast in this family
    * ([[ipwAte]], [[waldIv]], the naive heavy-vs-light split) should
    * ship with: how strong would an unmeasured confounder have to be
    * (on the risk-ratio scale, with BOTH exposure and outcome) to
    * explain the observed association away? E = RR* + √(RR*·(RR*−1))
    * with RR* = max(RR, 1/RR); E = 1 means "any confounding at all
    * could do it". Exposure: heavy clicker (≥ `clickSplit` clicks);
    * outcome: purchased. Degenerate margins (an empty arm or a zero
    * outcome rate) report E = 1 with the count columns saying why —
    * divisors are structurally nonzero (waldIv discipline).
    *
    * Scale shape: one user aggregate, one 2×2 fold. */
  def eValue(ev: DataFrame, clickSplit: Long = 14L): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg((sum(when(col("event_type") === "click", 1L).otherwise(0L)) >=
        clickSplit).cast("long").as("e"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    val m = per.agg(
      sum(when(col("e") === 1L && col("y") === 1L, 1L).otherwise(0L))
        .as("a"),
      sum(when(col("e") === 1L && col("y") === 0L, 1L).otherwise(0L))
        .as("b"),
      sum(when(col("e") === 0L && col("y") === 1L, 1L).otherwise(0L))
        .as("c"),
      sum(when(col("e") === 0L && col("y") === 0L, 1L).otherwise(0L))
        .as("dd"))
    def d(c: Column) = c.cast("double")
    val n1 = col("a") + col("b")
    val n0 = col("c") + col("dd")
    val ok = n1 > 0L && n0 > 0L && col("a") > 0L && col("c") > 0L
    val p1 = d(col("a")) / d(greatest(n1, lit(1L)))
    val p0 = d(col("c")) / d(greatest(n0, lit(1L)))
    val p0Div = when(p0 =!= 0.0, p0).otherwise(lit(1.0))
    val p1Div = when(p1 =!= 0.0, p1).otherwise(lit(1.0))
    val rr = p1 / p0Div
    val rrStar = when(rr >= lit(1.0), rr).otherwise(p0 / p1Div)
    m.select(col("a").as("n_exp_pos"), col("b").as("n_exp_neg"),
      col("c").as("n_unexp_pos"), col("dd").as("n_unexp_neg"),
      r6(when(ok, rr).otherwise(lit(1.0))).as("risk_ratio"),
      r6(when(ok, rrStar + sqrt(rrStar * (rrStar - lit(1.0))))
        .otherwise(lit(1.0))).as("e_value"))
  }

  /** Information-gain ranking of candidate event features against the
    * is-purchase label — the feature-selection screen a training-set
    * builder runs before committing columns: for each feature
    * (hour-of-day quartered, portable weekday, value band, has-value),
    * IG = H(label) − H(label | feature) over the event frame, plus the
    * normalized IG/H(label). All entropies fold p·ln p terms through
    * DECIMAL over CATEGORY-BOUNDED censuses; the label entropy is
    * shared by every arm. Zero-entropy labels (all one class) report
    * 0s (sentinel divisor — waldIv discipline).
    *
    * Scale shape: one aggregate per feature arm into a ≤|cells| census
    * (map-side combined), unioned; nothing data-scale moves twice. */
  def infoGainRanking(ev: DataFrame): DataFrame = {
    val base = ev.filter(col("ts").isNotNull)
      .select(
        (col("event_type") === "purchase").cast("int").as("label"),
        (hour(col("ts")) / 6).cast("int").as("hour_q"),
        ((floor(unix_micros(col("ts")) / lit(86400000000L)) + lit(4)) % 7)
          .cast("int").as("dow"),
        when(col("value").isNull, -1)
          .otherwise(least(floor(col("value") / 100.0), lit(9.0)))
          .cast("int").as("value_band"),
        col("value").isNotNull.cast("int").as("has_value"))
      .pinned() // every feature arm scans it
    def dec(c: Column) = c.cast("decimal(28,12)")
    def d(c: Column) = c.cast("double")
    // H(label): binary entropy from the label census
    val hLabel = base.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("nt"),
        sum(dec(d(col("n")) * log(d(col("n"))))).cast("double").as("snln"))
      .select(col("nt"),
        (log(d(col("nt"))) - col("snln") / d(col("nt"))).as("h_label"))
      .pinned()
    val arms = Seq("hour_q", "dow", "value_band", "has_value").map { f =>
      // H(label|feature) = Σ_v p(v)·H(label|v), from the (v, label)
      // census: Σ_v,l −(n_vl/N)·ln(n_vl/n_v)
      val cells = base.groupBy(col(f).as("v"), col("label"))
        .agg(count(lit(1)).as("nvl"))
      val perV = cells.groupBy("v").agg(sum(col("nvl")).as("nv"))
      cells.join(perV, Seq("v"))
        .agg(count(lit(1)).as("n_cells"),
          sum(dec(d(col("nvl")) * log(d(col("nvl")) / d(col("nv")))))
            .cast("double").as("s"))
        .select(lit(f).as("feature"), col("n_cells"), col("s"))
    }
    arms.reduce(_ unionAll _)
      .crossJoin(broadcast(hLabel))
      .select(col("feature"), col("n_cells"),
        r6(col("h_label")).as("h_label"),
        r6(col("h_label") + col("s") / d(col("nt"))).as("info_gain"),
        r6(when(col("h_label") > 0.0,
          (col("h_label") + col("s") / d(col("nt"))) /
            when(col("h_label") > 0.0, col("h_label")).otherwise(lit(1.0)))
          .otherwise(lit(0.0))).as("ig_ratio"))
      .orderBy("feature")
  }

  /** Qini uplift curve at score-census thresholds — the uplift-model
    * eval between the hash-assigned variants ([[mannWhitney]]'s
    * instrument): targeting score s = per-user click count, outcome =
    * purchased ever. For every distinct score cutoff (descending), the
    * treated-vs-control conversion contrast among users scoring ≥ s:
    * uplift_rate = convT/nT − convC/nC and the Qini number
    * qini = convT − convC·nT/nC (Radcliffe's absolute formulation).
    * Thresholding on the VALUE CENSUS keeps the curve exact and the
    * window domain-bounded — the decile formulation would need a
    * global rank over USERS, the very anti-pattern the census
    * discipline exists to avoid; census cutoffs are a superset of any
    * decile grid anyway.
    *
    * Scale shape: one user aggregate, one census aggregate, cumulative
    * windows over the census. */
  def qiniCurve(ev: DataFrame): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("s"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      .withColumn("g", Sampling.hashBucket(col("user_id"), 2))
    val census = per.groupBy("s").agg(
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("nt"),
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("g") === 1, col("y")).otherwise(0L)).as("ct"),
      sum(when(col("g") === 0, col("y")).otherwise(0L)).as("cc"))
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    def d(c: Column) = c.cast("double")
    val cum = census
      .withColumn("cnt", sum(col("nt")).over(w))
      .withColumn("cnc", sum(col("nc")).over(w))
      .withColumn("cct", sum(col("ct")).over(w))
      .withColumn("ccc", sum(col("cc")).over(w))
    val ok = col("cnt") > 0L && col("cnc") > 0L
    // structurally-nonzero divisors (codegen CSE hoists shared
    // subexpressions out of the CASE branches — see waldIv)
    val dnt = d(greatest(col("cnt"), lit(1L)))
    val dnc = d(greatest(col("cnc"), lit(1L)))
    cum.select(col("s").as("score_cutoff"),
      col("cnt").as("n_treated"), col("cnc").as("n_control"),
      col("cct").as("conv_treated"), col("ccc").as("conv_control"),
      r6(when(ok, d(col("cct")) / dnt -
        d(col("ccc")) / dnc).otherwise(lit(0.0)))
        .as("uplift_rate"),
      r6(when(ok, d(col("cct")) -
        d(col("ccc")) * d(col("cnt")) / dnc)
        .otherwise(lit(0.0))).as("qini"))
      .orderBy(col("score_cutoff").desc)
  }

  /** Exact 1-Wasserstein (earth-mover) distance between the two
    * hash-cohort distributions of per-user event counts — the
    * magnitude-aware companion to [[mannWhitney]] (which only ranks)
    * and [[ksTest]] (which takes the sup): W₁ = ∫|F_A − F_B| dx,
    * evaluated exactly on the merged VALUE CENSUS as
    * Σᵢ |cumA_i/n_A − cumB_i/n_B| · (x_{i+1} − x_i). The cumulative
    * counts are integers, the gap is an integer, and each term folds
    * through DECIMAL — bit-identical across engines. Also reports W₁
    * normalized by the observed range (scale-free [0, 1] drift score).
    *
    * Scale shape: one user-frame aggregate (shuffle on user), one
    * census aggregate, then the global window runs over the CENSUS
    * (distinct count values — domain-bounded, the mannWhitney
    * discipline), never the user frame. */
  def wasserstein1(ev: DataFrame): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("x"))
      .withColumn("g", Sampling.hashBucket(col("user_id"), 2))
    val census = per.groupBy("x")
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(col("x"))
    val wTot = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val stepped = census
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .withColumn("na", sum(col("ca")).over(wTot))
      .withColumn("nb", sum(col("cb")).over(wTot))
      .withColumn("gap", lead(col("x"), 1).over(wAll) - col("x"))
    def d(c: Column) = c.cast("double")
    val m = stepped.agg(
      max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
      min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      // empty-cohort guard: with n_a or n_b = 0 the CDF ratio is
      // undefined — every term drops and W₁ reports 0. Divisors are
      // greatest-guarded so the guarded branch never divides by zero
      // even if codegen CSE hoists it (ANSI mode; see waldIv).
      sum(when(col("gap").isNotNull && col("na") > 0L && col("nb") > 0L,
          (abs(d(col("cuma")) / d(greatest(col("na"), lit(1L))) -
            d(col("cumb")) / d(greatest(col("nb"), lit(1L)))) *
            d(col("gap")))
            .cast("decimal(28,12)"))
        .otherwise(lit(0).cast("decimal(28,12)"))).cast("double")
        .as("w1"))
    m.select(col("n_a"), col("n_b"), r6(col("w1")).as("w1"),
      r6(when(col("xmax") > col("xmin"),
        col("w1") / d(greatest(col("xmax") - col("xmin"), lit(1L))))
        .otherwise(lit(0.0)))
        .as("w1_normalized"))
  }

  /** Spearman rank correlation between per-customer order count and
    * per-customer distinct-part breadth — "do frequent buyers buy more
    * WIDELY?" robust to the heavy right tail that drags Pearson around.
    * Both variables are small integers, so ranking is census-based like
    * [[mannWhitney]]: each variable's average-rank map is built from its
    * value census (bounded by max orders / max distinct parts per
    * customer) and BROADCAST back onto the customer frame — the
    * customer-cardinality frame itself is never globally sorted. ρ is
    * Pearson over the tie-averaged ranks (the exact tie-correct form);
    * rank products are .25-grain rationals summed in DECIMAL. The raw
    * Pearson r ships alongside so the report shows what the rank
    * transform absorbed. */
  def spearmanBreadth(orders: DataFrame, lineitem: DataFrame): DataFrame =
    // materialized: both rank maps and the ranked join reuse this frame
    spearmanOnPairs(orderBreadthFrame(orders, lineitem).pinned())

  private[graft] def spearmanOnPairs(pc: DataFrame): DataFrame = {
    def rankMap(v: String): DataFrame = {
      val census = pc.groupBy(col(v)).agg(count(lit(1)).as("t"))
      val w = Window.orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)
      census.withColumn("below", coalesce(sum(col("t")).over(w), lit(0L)))
        .select(col(v), (col("below").cast("double") +
          (col("t").cast("double") + lit(1.0)) / lit(2.0)).as(s"r_$v"))
    }
    val ranked = pc.join(broadcast(rankMap("x")), Seq("x"))
      .join(broadcast(rankMap("y")), Seq("y"))
    def dec(c: Column) = c.cast("decimal(28,12)")
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(dec(col("r_x"))).as("sx"), sum(dec(col("r_y"))).as("sy"),
      sum(dec(col("r_x") * col("r_x"))).as("sxx"),
      sum(dec(col("r_y") * col("r_y"))).as("syy"),
      sum(dec(col("r_x") * col("r_y"))).as("sxy"),
      sum(col("x")).as("rsx"), sum(col("y")).as("rsy"),
      sum(col("x") * col("x")).as("rsxx"),
      sum(col("y") * col("y")).as("rsyy"),
      sum(col("x") * col("y")).as("rsxy"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n"))
    def pearson(sx: Column, sy: Column, sxx: Column, syy: Column,
                sxy: Column): Column =
      (n * d(sxy) - d(sx) * d(sy)) /
        sqrt((n * d(sxx) - d(sx) * d(sx)) * (n * d(syy) - d(sy) * d(sy)))
    m.select(col("n").as("n_customers"),
      r6(pearson(col("sx"), col("sy"), col("sxx"), col("syy"),
        col("sxy"))).as("rho_spearman"),
      r6(pearson(col("rsx"), col("rsy"), col("rsxx"), col("rsyy"),
        col("rsxy"))).as("r_pearson"))
  }

  /** Memo for [[orderBreadthFrame]]: `q_spearman` and `q_kendall_tau`
    * both consume it in one Bench run — the coPurchaseCounts sharing
    * policy (keyed on session identity + fixture dir, materialized via
    * localCheckpoint so the second consumer reads shuffle-free). */
}
