package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.functions.CleanFns.r6

/** Sequential-monitoring, survival-contrast, and randomization-inference
  * analytics — the statistical layer a pipeline owner leans on once the
  * descriptive stats (StatsAnalytics) say "something moved": did the daily
  * mean actually shift (Page–Hinkley), what does next week look like
  * (Theta forecast), is the series cyclic or noisy (spectral entropy), do
  * two user cohorts churn at different rates (log-rank, RMST), do raters /
  * repeated measures agree (Cochran's Q, Friedman, Krippendorff's α), and
  * what is the effect once confounding cells are balanced (AIPW).
  *
  * House determinism rules apply throughout: every sum that feeds a
  * rounded, hashed double folds through DECIMAL; divisors are structurally
  * nonzero (greatest / CASE sentinels) with when() gates carrying only the
  * semantics; libm-divergent constants are Scala-side literals shared
  * verbatim with the oracle SQL; decision flags compare against fixed
  * literal critical values (no CDFs — the grangerLag1 convention).
  */
object InferenceAnalytics {

  /** The daily total-value series every monitoring op in this module
    * watches: one day aggregate, 2dp-rounded through DECIMAL (the
    * periodogram construction, shared so the ops agree on their input). */
  private def dailySeries(ev: DataFrame): DataFrame =
    ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))

  /** Page–Hinkley mean-shift monitor over the daily value series (Page
    * 1954; the sequential drift detector stream-training pipelines run
    * beside PSI): m_t = Σ_{i≤t} (x_i − x̄_i), where x̄_i is the running
    * mean through day i, and PH_t = m_t − min_{s≤t} m_s. A mean that
    * drifts UP makes the recent deviations positive, m climbs away from
    * its historical minimum, and PH crosses the alarm band — here the
    * fixed 2σ of the whole series (a literal-free, scale-free band; the
    * classic δ drift allowance is 0 so the statistic stays exact integer
    * day arithmetic + one running ratio). Both the running mean and the
    * cumulative deviation fold through DECIMAL inside their window
    * frames, so partition order never reaches the last ulp.
    *
    * Scale shape: one day aggregate, then three window passes over the
    * day-bounded frame (≤ horizon rows at any corpus size). */
  def pageHinkley(ev: DataFrame): DataFrame = {
    val daily = dailySeries(ev)
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runMean = sum(col("x").cast("decimal(28,6)")).over(w)
      .cast("double") / count(lit(1)).over(w).cast("double")
    val sd0 = daily.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
      sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double")
        .as("sxx"))
    val varD = (col("sxx") - col("sx") * col("sx") /
      col("n").cast("double")) /
      greatest(col("n") - 1L, lit(1L)).cast("double")
    val sd = sd0.select(col("n"),
      when(col("n") > 1L, sqrt(greatest(varD, lit(0.0))))
        .otherwise(lit(0.0)).as("sd"))
    daily
      .withColumn("run_mean", runMean)
      .withColumn("dev", col("x") - col("run_mean"))
      .withColumn("m_stat",
        sum(col("dev").cast("decimal(28,12)")).over(w).cast("double"))
      .withColumn("ph_stat", col("m_stat") - min(col("m_stat")).over(w))
      .crossJoin(broadcast(sd))
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("x"),
        r6(col("run_mean")).as("run_mean"),
        r6(col("m_stat")).as("m_stat"), r6(col("ph_stat")).as("ph_stat"),
        r6(lit(2.0) * col("sd")).as("band_2sd"),
        when(col("ph_stat") > lit(2.0) * col("sd"), 1).otherwise(0)
          .cast("int").as("alarm_2sd"))
      .orderBy("d")
  }

  /** Theta-method forecast (Assimakopoulos & Nikolopoulos 2000) of the
    * daily value series, the M3-winning two-line decomposition: average
    * the θ=0 line (the OLS linear trend, extrapolated) with SES over the
    * θ=2 line z_t = 2·x_t − (a + b·t), α = 0.5. SES has the closed form
    * s_T = Σ_i w_i·z_i with w_i = α(1−α)^{T−i} (and the initial state
    * carrying (1−α)^{T−1}), so no sequential fold is needed: the weights
    * are the exact powers of two in [[ThetaTables.pow05]], shared
    * verbatim with the oracle (weights beyond 2⁻⁶³ are dropped on BOTH
    * engines — far below the output rounding). One row per horizon day.
    *
    * Scale shape: one day aggregate; the trend moments, the weighted SES
    * fold, and the 7 horizon arms all run on the day-bounded frame. */
  def thetaForecast(ev: DataFrame, horizon: Int = 7): DataFrame = {
    val daily = dailySeries(ev)
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy("d"))
        .cast("bigint"))
    def dc(c: Column) = c.cast("decimal(38,12)")
    val m = idx.agg(count(lit(1)).as("n"),
      sum(dc(col("t"))).cast("double").as("st"),
      sum(dc(col("x"))).cast("double").as("sx"),
      sum(dc(col("t") * col("t"))).cast("double").as("stt"),
      sum(dc(col("t").cast("double") * col("x"))).cast("double")
        .as("stx"))
    val nD = col("n").cast("double")
    val det = nD * col("stt") - col("st") * col("st")
    val detDiv = when(det =!= 0.0, det).otherwise(lit(1.0))
    val ab = m.select(col("n"),
      when(det =!= 0.0,
        (nD * col("stx") - col("st") * col("sx")) / detDiv)
        .otherwise(lit(0.0)).as("b"),
      when(det =!= 0.0,
        (col("sx") * col("stt") - col("st") * col("stx")) / detDiv)
        .otherwise(col("sx") / greatest(col("n"), lit(1L)).cast("double"))
        .as("a"))
    // SES weight: k = n − t (0 for the last observation);
    // w = 0.5^(k+1) for t > 1 (α·(1−α)^k at α = 0.5), 0.5^k for t = 1
    // (the initial state's (1−α)^(n−1)). Exact powers of two — the CASE
    // table is bit-identical on both engines.
    val kCol = col("n") - col("t")
    def powCase(k: Column): Column =
      (0 until ThetaTables.maxPow).foldLeft(lit(0.0)) { (acc, i) =>
        when(k === i.toLong, lit(ThetaTables.pow05(i))).otherwise(acc)
      }
    val wgt = when(col("t") === 1L, powCase(kCol))
      .otherwise(powCase(kCol + 1L))
    val z = lit(2.0) * col("x") - (col("a") + col("b") *
      col("t").cast("double"))
    val ses = idx.crossJoin(broadcast(ab))
      .agg(sum((wgt * z).cast("decimal(38,12)")).cast("double").as("ses"),
        max(col("n")).as("n"), max(col("a")).as("a"), max(col("b")).as("b"))
    val hs = (1 to horizon).map(h => lit(h.toLong))
    ses.select(explode(array(hs: _*)).as("h"), col("n").as("n_days"),
        col("a"), col("b"), col("ses"))
      .select(col("h"), col("n_days"),
        r6(col("a") + col("b") *
          (col("n_days") + col("h")).cast("double")).as("trend_part"),
        r6(col("ses")).as("ses_part"),
        r6((col("a") + col("b") *
          (col("n_days") + col("h")).cast("double") + col("ses")) /
          lit(2.0)).as("forecast"))
      .orderBy("h")
  }

  /** Normalized spectral entropy of the daily series — "is this series
    * CYCLIC or NOISY", folded from [[StatsAnalytics.periodogram]]'s
    * power census at its own 6dp reporting boundary (so this summary and
    * that report can never disagree): H = −Σ p·ln p over the power
    * shares, normalized by ln(K); near 0 means one period owns the
    * spectrum (strong seasonality), near 1 means white noise. The
    * dominant period is the deterministic argmax (power DESC, period
    * ASC). The normalizer is ln of the MEASURED census size (not a
    * baked constant), so a different period grid cannot silently
    * denormalize the report.
    *
    * Scale shape: everything after the day aggregate runs on the
    * 13-row period census. */
  def spectralEntropy(ev: DataFrame): DataFrame = {
    val pg = StatsAnalytics.periodogram(ev)
    val tot = pg.agg(count(lit(1)).as("n_periods"),
      max(col("n_days")).as("nd"),
      sum(col("power").cast("decimal(28,12)")).cast("double").as("sp"),
      max(col("power")).as("pmax"))
    val spDiv = when(col("sp") =!= 0.0, col("sp")).otherwise(lit(1.0))
    val share = col("power") / spDiv
    val ranked = pg.crossJoin(broadcast(tot))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("power").desc, col("period"))))
    val ent = ranked.agg(
      max(col("n_periods")).as("n_periods"),
      max(col("nd")).as("n_days"),
      max(col("sp")).as("sp"), max(col("pmax")).as("pmax"),
      sum(when(share > 0.0, (-share * log(share)).cast("decimal(28,12)"))
        .otherwise(lit(0).cast("decimal(28,12)"))).cast("double")
        .as("h"),
      max(when(col("rnk") === 1, col("period"))).as("dominant_period"))
    val ok = col("sp") =!= 0.0
    ent.select(col("n_periods"), col("n_days"),
      r6(col("sp")).as("total_power"),
      r6(when(ok, col("h")).otherwise(lit(0.0))).as("spectral_entropy"),
      r6(when(ok && col("n_periods") > 1L,
        col("h") / log(col("n_periods").cast("double")))
        .otherwise(lit(0.0))).as("spectral_entropy_norm"),
      col("dominant_period"),
      r6(when(ok, col("pmax") / spDiv).otherwise(lit(0.0)))
        .as("max_share"))
  }

  /** Two-cohort log-rank test (Mantel 1966) on user lifetime — "do the
    * A and B populations CHURN at different rates", the hypothesis test
    * [[StatsAnalytics.survivalKm]]'s two curves only eyeball. Cohorts
    * are the deterministic md5 split (the abLift convention); censoring
    * is last-day-equals-horizon, exactly as the KM/Nelson–Aalen
    * lifetime table builds it. At every event time: E₁ = d·n₁/n and the
    * hypergeometric variance d·(n₁/n)(1−n₁/n)(n−d)/(n−1); the statistic
    * (ΣO₁−ΣE₁)²/ΣV is χ²(1) under H₀ and the flag compares the literal
    * 3.841 (5%). Per-time ratios fold through DECIMAL; divisors are
    * structurally nonzero with when() gates carrying the semantics.
    *
    * Scale shape: one user aggregate, then everything runs on the
    * day-bounded risk table. */
  /** The two-cohort risk table [[logRank]] and [[hazardRatio]] share:
    * per event time t, the per-group deaths/censorings and the
    * number-at-risk walk (md5 cohort split, last-day-is-horizon
    * censoring — the lifetimeTable conventions, grouped). */
  private def cohortRiskTable(ev: DataFrame): DataFrame = {
    val life = ev.filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id")
      .agg(datediff(max(col("d")), min(col("d"))).cast("bigint").as("t"),
        max(col("d")).as("last_d"))
      .withColumn("g", Sampling.hashBucket(col("user_id"), 2))
    val horizon = life.agg(max(col("last_d")).as("h"))
    val pt = life.crossJoin(broadcast(horizon))
      .select(col("t"), col("g"),
        when(col("last_d") === col("h"), 1L).otherwise(0L).as("cen"))
      .groupBy("t")
      .agg(
        sum(when(col("g") === 0L && col("cen") === 0L, 1L).otherwise(0L))
          .as("d0"),
        sum(when(col("g") === 0L && col("cen") === 1L, 1L).otherwise(0L))
          .as("c0"),
        sum(when(col("g") === 1L && col("cen") === 0L, 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("g") === 1L && col("cen") === 1L, 1L).otherwise(0L))
          .as("c1"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = pt.agg(sum(col("d0") + col("c0")).as("n0t"),
      sum(col("d1") + col("c1")).as("n1t"))
    pt.crossJoin(broadcast(tot))
      .withColumn("n0", col("n0t") -
        coalesce(sum(col("d0") + col("c0")).over(wPrev), lit(0L)))
      .withColumn("n1", col("n1t") -
        coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
      .withColumn("nr", col("n0") + col("n1"))
      .withColumn("dd", col("d0") + col("d1"))
  }

  def logRank(ev: DataFrame): DataFrame = {
    val risk = cohortRiskTable(ev)
    val frac1 = col("n1").cast("double") /
      greatest(col("nr"), lit(1L)).cast("double")
    val e1 = col("dd").cast("double") * frac1
    val v = col("dd").cast("double") * frac1 * (lit(1.0) - frac1) *
      (col("nr") - col("dd")).cast("double") /
      greatest(col("nr") - 1L, lit(1L)).cast("double")
    def dz(c: Column) = c.cast("decimal(28,12)")
    val agg = risk.agg(
      max(col("n0t")).as("n_users_a"), max(col("n1t")).as("n_users_b"),
      sum(col("d1")).as("o1"),
      sum(when(col("dd") > 0L, dz(e1)).otherwise(dz(lit(0.0))))
        .cast("double").as("e1"),
      sum(when(col("dd") > 0L && col("nr") > 1L, dz(v))
        .otherwise(dz(lit(0.0)))).cast("double").as("vsum"))
    val vDiv = when(col("vsum") =!= 0.0, col("vsum")).otherwise(lit(1.0))
    val chi2 = (col("o1").cast("double") - col("e1")) *
      (col("o1").cast("double") - col("e1")) / vDiv
    agg.select(col("n_users_a"), col("n_users_b"), col("o1"),
      r6(col("e1")).as("e1"), r6(col("vsum")).as("var_sum"),
      r6(when(col("vsum") =!= 0.0, chi2).otherwise(lit(0.0)))
        .as("chi2_stat"),
      when(col("vsum") =!= 0.0 && chi2 > lit(3.841), 1).otherwise(0)
        .cast("int").as("reject_at_3841"))
  }

  /** Cohort hazard ratio from the log-rank O/E decomposition — the
    * effect SIZE the [[logRank]] test's yes/no verdict needs beside it:
    * HR = (O₁/E₁)/(O₀/E₀) (the Pike estimator), with the standard
    * ln-scale CI from se = √(1/E₁ + 1/E₀) at the literal 1.96. Shares
    * [[cohortRiskTable]] verbatim, so the test and the estimate can
    * never disagree about the risk sets.
    *
    * Scale shape: one user aggregate, day-bounded folds. */
  def hazardRatio(ev: DataFrame): DataFrame = {
    val risk = cohortRiskTable(ev)
    def dz(c: Column) = c.cast("decimal(28,12)")
    val nrDiv = greatest(col("nr"), lit(1L)).cast("double")
    val e1t = col("dd").cast("double") * (col("n1").cast("double") / nrDiv)
    val e0t = col("dd").cast("double") * (col("n0").cast("double") / nrDiv)
    val agg = risk.agg(
      sum(col("d1")).as("o1"), sum(col("d0")).as("o0"),
      sum(when(col("dd") > 0L, dz(e1t)).otherwise(dz(lit(0.0))))
        .cast("double").as("e1"),
      sum(when(col("dd") > 0L, dz(e0t)).otherwise(dz(lit(0.0))))
        .cast("double").as("e0"))
    val ok = col("o1") > 0L && col("o0") > 0L &&
      col("e1") > 0.0 && col("e0") > 0.0
    def dv(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val hr = (col("o1").cast("double") / dv(col("e1"))) /
      dv(col("o0").cast("double") / dv(col("e0")))
    val se = sqrt(lit(1.0) / dv(col("e1")) + lit(1.0) / dv(col("e0")))
    agg.select(col("o1"), col("o0"),
      r6(col("e1")).as("e1"), r6(col("e0")).as("e0"),
      r6(when(ok, hr).otherwise(lit(0.0))).as("hazard_ratio"),
      r6(when(ok, exp(log(hr) - lit(1.96) * se)).otherwise(lit(0.0)))
        .as("ci_lo"),
      r6(when(ok, exp(log(hr) + lit(1.96) * se)).otherwise(lit(0.0)))
        .as("ci_hi"),
      when(ok && exp(log(hr) - lit(1.96) * se) > lit(1.0), 1)
        .when(ok && exp(log(hr) + lit(1.96) * se) < lit(1.0), -1)
        .otherwise(0).cast("int").as("direction_at_95"))
  }

  /** Negative-binomial vs Poisson fit of per-customer order counts —
    * the model-choice question behind [[StatsAnalytics
    * .overdispersion]]'s ratio: if orders were Poisson the dispersion
    * would be 1; when it is not, the NB method-of-moments fit
    * (r = m²/(v−m), p = r/(r+m)) says HOW the excess clusters, and the
    * log-likelihood ratio (NB log-likelihoods need lnΓ — the shared
    * [[PortableGamma]] literals) says whether the extra parameter earns
    * its keep at the literal χ²(1) bar. The whole computation runs on
    * the count-of-counts census (≤ max-orders-per-customer rows), so
    * the lgamma chain is never row-scale.
    *
    * Scale shape: one customer aggregate → a census-bounded fold. */
  def nbFit(orders: DataFrame): DataFrame = {
    val census = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x"))
      .groupBy("x").agg(count(lit(1)).as("nk"))
      .pinned() // moments and both likelihood folds read it
    def d(c: Column) = c.cast("double")
    def dz(c: Column) = c.cast("decimal(38,12)")
    val mom = census.agg(sum(col("nk")).as("n"),
      sum(col("x") * col("nk")).as("sx"),
      sum(col("x") * col("x") * col("nk")).as("sxx"))
    val nD = d(greatest(col("n"), lit(1L)))
    val m = d(col("sx")) / nD
    val v = (d(col("sxx")) - d(col("sx")) * d(col("sx")) / nD) /
      d(greatest(col("n") - 1L, lit(1L)))
    val stats = mom.select(col("n"), m.as("m"), v.as("v"),
      (v > m).as("overdispersed"))
    val j = census.crossJoin(broadcast(stats))
    val mDiv = when(col("m") > 0.0, col("m")).otherwise(lit(1.0))
    val vmDiv = when(col("v") - col("m") =!= 0.0, col("v") - col("m"))
      .otherwise(lit(1.0))
    val r = col("m") * col("m") / vmDiv
    val p = r / (r + mDiv)
    val kD = d(col("x"))
    import PortableGamma.lgamma
    val llPois = dz(d(col("nk")) * (kD * log(mDiv) - col("m") -
      lgamma(kD + lit(1.0))))
    val llNb = dz(d(col("nk")) * (lgamma(kD + r) - lgamma(r) -
      lgamma(kD + lit(1.0)) + r * log(greatest(p, lit(1.0e-300))) +
      kD * log(greatest(lit(1.0) - p, lit(1.0e-300)))))
    val folds = j.agg(max(col("n")).as("n"), max(col("m")).as("m"),
      max(col("v")).as("v"),
      max(when(col("overdispersed"), 1L).otherwise(0L)).as("od"),
      sum(llPois).cast("double").as("llp"),
      sum(when(col("overdispersed"), llNb)
        .otherwise(dz(lit(0.0)))).cast("double").as("lln"),
      max(when(col("overdispersed"), r).otherwise(lit(0.0))).as("r"),
      max(when(col("overdispersed"), p).otherwise(lit(0.0))).as("p"))
    val llr = lit(2.0) * (col("lln") - col("llp"))
    val od = col("od") === 1L
    folds.select(col("n").as("n_customers"),
      r6(col("m")).as("mean_count"), r6(col("v")).as("var_count"),
      r6(col("r")).as("nb_r"), r6(col("p")).as("nb_p"),
      r6(col("llp")).as("ll_poisson"),
      r6(when(od, col("lln")).otherwise(lit(0.0))).as("ll_nb"),
      r6(when(od, llr).otherwise(lit(0.0))).as("llr"),
      when(od && llr > lit(3.841), 1).otherwise(0).cast("int")
        .as("prefer_nb_at_3841"),
      when(od, 0).otherwise(1).cast("int").as("equidispersed"))
  }

  /** Restricted mean survival time — ∫₀^τ S(t)dt from the KM curve, the
    * "average days retained within the first τ" number product reviews
    * quote because, unlike the median, it exists even when the curve
    * never crosses 0.5. Integrates the step function exactly: S = 1 on
    * [0, t_min), then s_km(t_k) over [t_k, t_{k+1} ∧ τ). Reuses
    * [[StatsAnalytics.survivalKm]] AT its own 6dp rounding boundary, so
    * this summary and the published curve can never disagree. One row
    * per horizon τ, plus the share of τ retained.
    *
    * Scale shape: the KM fold is one user aggregate; the integral arms
    * run on the day-bounded (checkpointed) curve. */
  def rmst(ev: DataFrame, taus: Seq[Int] = Seq(7, 14, 21, 28)): DataFrame = {
    val w = Window.orderBy("t")
    val km = StatsAnalytics.survivalKm(ev)
      .withColumn("t_next", coalesce(lead(col("t"), 1).over(w),
        lit(1000000L)))
      .pinned() // every τ arm folds the same curve
    val tmin = km.agg(min(col("t")).as("t_min"))
    val arms = taus.map { tau =>
      val tl = lit(tau.toLong)
      val seg = greatest(least(col("t_next"), tl) - least(col("t"), tl),
        lit(0L))
      km.agg(sum((col("s_km") * seg.cast("double"))
          .cast("decimal(28,12)")).cast("double").as("auc"))
        .crossJoin(broadcast(tmin))
        .select(tl.as("tau"),
          (least(col("t_min"), tl).cast("double") + col("auc"))
            .as("rmst_raw"))
        .select(col("tau"), r6(col("rmst_raw")).as("rmst"),
          r6(col("rmst_raw") / lit(tau.toDouble)).as("rmst_share"))
    }
    arms.reduce(_ unionAll _).orderBy("tau")
  }

  /** Cochran's Q test (Cochran 1950) across the five canonical event
    * types: blocks are users, the binary outcome is "did this user ever
    * emit the type" — DID the k funnel surfaces reach the same share of
    * the population, the k-treatment generalization of [[StatsAnalytics
    * .mcnemar]]. Algebraically reduced to pure integers: Q = (k−1)·
    * (k·ΣC_j² − N²) / (k·N − ΣR_i²), with the single division the only
    * double (structurally-nonzero sentinel; the denominator vanishes
    * iff every user hit all-or-none of the types). Flag at the literal
    * χ²(4) 5% value 9.488.
    *
    * Scale shape: one user aggregate, then one scalar fold. */
  def cochranQ(ev: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val k = types.size
    val flags = types.map(t =>
      max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"x_$t"))
    val per = ev.filter(col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .groupBy("user_id")
      .agg(flags.head, flags.tail: _*)
      .withColumn("r", types.map(t => col(s"x_$t")).reduce(_ + _))
    val aggs: Seq[Column] = count(lit(1)).as("n_blocks") +:
      (types.map(t => sum(col(s"x_$t")).as(s"c_$t")) ++
        Seq(sum(col("r")).as("nn"), sum(col("r") * col("r")).as("r2")))
    val m = per.agg(aggs.head, aggs.tail: _*)
    val sumC2 = types.map(t => col(s"c_$t") * col(s"c_$t")).reduce(_ + _)
    val num = lit((k - 1).toLong) *
      (lit(k.toLong) * sumC2 - col("nn") * col("nn"))
    val den = lit(k.toLong) * col("nn") - col("r2")
    val q = num.cast("double") / greatest(den, lit(1L)).cast("double")
    val outCols: Seq[Column] =
      (col("n_blocks") +: types.map(t => col(s"c_$t"))) ++ Seq(
        col("nn").as("n_total"),
        lit(k).cast("int").as("k"),
        lit(k - 1).cast("int").as("df"),
        r6(when(den > 0L, q).otherwise(lit(0.0))).as("q_stat"),
        when(den > 0L && q > lit(9.488), 1).otherwise(0).cast("int")
          .as("reject_at_9488"))
    m.select(outCols: _*)
  }

  /** Friedman rank test (Friedman 1937) — blocks are nations, the k
    * repeated measures are the five order priorities, the response is
    * each cell's mean order value: DO priorities rank consistently
    * across nations, the nonparametric two-way ANOVA. Cells are
    * 6dp-rounded means (identical doubles on both engines), so the
    * within-block MIDRANKS — min-rank + (ties−1)/2 — are engine-stable;
    * only blocks holding all k cells enter. Tie-corrected statistic
    * with the kruskalWallis zero-guard discipline; flag at the literal
    * χ²(4) 5% value 9.488.
    *
    * Scale shape: one fact-dim join into the ≤ |nations|×k cell census;
    * ranks and the fold run on cells. */
  def friedman(orders: DataFrame, customer: DataFrame): DataFrame = {
    val k = 5
    val cells = orders.join(
        customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("block"),
        col("o_orderpriority").as("treat"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("v_raw"))
      .select(col("block"), col("treat"), r6(col("v_raw")).as("v"))
    val complete = cells
      .withColumn("kc", count(lit(1)).over(
        Window.partitionBy("block")))
      .filter(col("kc") === k)
    val ranked = complete
      .withColumn("minrank", rank().over(
        Window.partitionBy("block").orderBy("v")).cast("double"))
      .withColumn("ties", count(lit(1)).over(
        Window.partitionBy("block", "v")))
      .withColumn("midrank", col("minrank") +
        (col("ties") - 1L).cast("double") / lit(2.0))
    def dc(c: Column) = c.cast("decimal(28,12)")
    val rj = ranked.groupBy("treat")
      .agg(count(lit(1)).as("nb"),
        sum(dc(col("midrank"))).cast("double").as("rsum"))
    // Σ(t³−t) over tie groups, for the correction factor
    val tieSum = ranked.groupBy("block", "v")
      .agg(count(lit(1)).as("tt"))
      .agg(coalesce(sum(col("tt") * col("tt") * col("tt") - col("tt")),
        lit(0L)).as("ts"))
    val m = rj.agg(max(col("nb")).as("n_blocks"),
      sum(dc(col("rsum") * col("rsum"))).cast("double").as("sr2"))
    val nD = col("n_blocks").cast("double")
    val qRaw = lit(12.0) / (nD * lit(k.toDouble) * lit((k + 1).toDouble)) *
      col("sr2") - lit(3.0) * nD * lit((k + 1).toDouble)
    val corr = lit(1.0) - col("ts").cast("double") /
      (nD * lit(k.toDouble) * lit((k * k - 1).toDouble))
    val out = m.crossJoin(broadcast(tieSum))
    val ok = col("n_blocks") > 0L
    val cDiv = when(corr =!= 0.0, corr).otherwise(lit(1.0))
    val qc = qRaw / cDiv
    out.select(col("n_blocks"), lit(k).cast("int").as("k"),
      lit(k - 1).cast("int").as("df"),
      r6(when(ok, qRaw).otherwise(lit(0.0))).as("q_stat"),
      r6(when(ok && corr =!= 0.0, qc).otherwise(lit(0.0)))
        .as("q_corrected"),
      when(ok && corr =!= 0.0 && qc > lit(9.488), 1).otherwise(0)
        .cast("int").as("reject_at_9488"))
  }

  /** Krippendorff's α (nominal metric) over order line return flags —
    * units are orders, the "raters" are their line items, the category
    * is l_returnflag: DO the lines of one order agree on return
    * behavior more than chance, the inter-annotator-agreement statistic
    * label pipelines publish because (unlike Fleiss) it is defined for
    * VARYING raters per unit and missing data. Coincidence-matrix form:
    * observed disagreement D_o = 1 − Σ_c Σ_u n_uc(n_uc−1)/(m_u−1) / n,
    * expected D_e = 1 − Σ_c n_c(n_c−1)/(n(n−1)), α = 1 − D_o/D_e.
    * Units with one rating carry no coincidence and are excluded, as
    * the estimator requires. All counts are exact integers; per-unit
    * ratios fold through DECIMAL; flag at Krippendorff's customary
    * α ≥ 0.8 reliability bar.
    *
    * Scale shape: one (order, flag) count aggregate, one order-keyed
    * join, two scalar folds — nothing leaves order granularity. */
  def krippendorffAlpha(lineitem: DataFrame): DataFrame = {
    val nuc = lineitem
      .groupBy(col("l_orderkey").as("u"), col("l_returnflag").as("c"))
      .agg(count(lit(1)).as("nuc"))
    val mu = nuc.groupBy("u").agg(sum(col("nuc")).as("m"))
      .filter(col("m") >= 2L)
    val kept = nuc.join(mu, "u")
    def dc(c: Column) = c.cast("decimal(28,12)")
    val occ = kept.agg(
      sum(dc((col("nuc") * (col("nuc") - 1L)).cast("double") /
        greatest(col("m") - 1L, lit(1L)).cast("double")))
        .cast("double").as("o_agree"),
      sum(col("nuc")).as("n"),
      countDistinct(col("u")).as("n_units"),
      countDistinct(col("c")).as("n_categories"))
    val nc = kept.groupBy("c").agg(sum(col("nuc")).as("ncat"))
      .agg(sum(col("ncat") * (col("ncat") - 1L)).as("sne"))
    val j = occ.crossJoin(broadcast(nc))
    val nD = col("n").cast("double")
    val dO = lit(1.0) - col("o_agree") / greatest(col("n"), lit(1L))
      .cast("double")
    val dE = lit(1.0) - col("sne").cast("double") /
      (nD * greatest(col("n") - 1L, lit(1L)).cast("double"))
    val dEDiv = when(dE =!= 0.0, dE).otherwise(lit(1.0))
    val ok = col("n") > 1L && dE =!= 0.0
    val alpha = lit(1.0) - dO / dEDiv
    j.select(col("n_units"), col("n").as("n_ratings"),
      col("n_categories"),
      r6(when(col("n") > 1L, dO).otherwise(lit(0.0))).as("d_observed"),
      r6(when(col("n") > 1L, dE).otherwise(lit(0.0))).as("d_expected"),
      r6(when(ok, alpha).otherwise(lit(0.0))).as("alpha"),
      when(ok && alpha >= lit(0.8), 1).otherwise(0).cast("int")
        .as("reliable_at_0_8"))
  }

  /** Benjamini–Hochberg FDR over a multi-metric A/B readout — the
    * correction an experimentation platform applies when one rollout is
    * judged on FIVE metrics at once (per-user counts of each event
    * type): testing each at 5% alone inflates the false-discovery rate,
    * so BH step-up finds the largest k with p_(k) ≤ k·q/m and declares
    * only those. P-values are hash-relabeling permutation tails (the
    * [[EventAnalytics.permutationTest]] machinery, one shared relabeling
    * per permutation across all metrics — preserving the metrics'
    * correlation, as the joint test requires), so no CDF is needed and
    * both engines fold the identical integers. One row per metric with
    * its observed diff, permutation p, BH rank/cutoff, and the
    * discovery flag at q = 0.1. The permutation count (60) is sized to
    * the correction: the smallest achievable p is 1/(perms+1), and the
    * rank-1 BH cutoff is q/m = 0.02, so perms must exceed m/q − 1 = 49
    * for ANY discovery to be possible — an FDR gate with fewer
    * permutations than that silently never fires.
    *
    * Scale shape: ONE pass over the user frame computes all
    * 5 + 5·(perms+1) conditional sums (one wide map-side-combined
    * aggregate — the permutation never re-shuffles); the melt and BH
    * walk run on the 5-row metric frame. */
  def bhFdr(ev: DataFrame, nPerms: Int = 60,
            qFdr: Double = 0.1): DataFrame = {
    import graft.ext.TextFns.portableH60
    val types = Seq("click", "error", "purchase", "signup", "view")
    val mCount = types.size
    // Permutations ride a LONG frame — explode the per-user counts to
    // one row per (user, permutation), hash the relabeling bit once per
    // row, and fold 7 sums per permutation id — instead of the previous
    // 366-aggregate wide form whose per-permutation md5 subtrees cost
    // ~2 s of Catalyst planning per run at ANY data size (the plan text
    // alone was 240 KB). Integer folds are identical either way (same
    // md5 bits, same conditional sums, addition regrouped over the same
    // values), so the result is bit-equal; the explode adds one
    // map-side-combined pass over nPerms·|users| narrow rows, which is
    // the standard shape for permutation sweeps at corpus scale.
    val perUser = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(types.map(t => sum(when(col("event_type") === t, 1L)
        .otherwise(0L)).as(s"x_$t")).head,
        types.map(t => sum(when(col("event_type") === t, 1L)
          .otherwise(0L)).as(s"x_$t")).tail: _*)
      .withColumn("g", Sampling.hashBucket(col("user_id"), 2))
      .pinned() // base + permutation passes share one scan
    val baseAggs: Seq[Column] =
      Seq(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0g")) ++
      types.map(t => sum(col(s"x_$t")).as(s"s_$t")) ++
      types.map(t => sum(when(col("g") === 0L, col(s"x_$t"))
        .otherwise(0L)).as(s"s0g_$t"))
    // 60 rows: per-permutation group-0 size and per-metric group-0 sums,
    // with the SAME portable hash bit as the wide form (":p" suffix via
    // string concat of the integer permutation id).
    val bitCol = pmod(portableH60(concat(col("user_id").cast("string"),
      lit(":"), col("__perm").cast("string"))), lit(2L))
    val perPerm = perUser
      .select(col("user_id") +: types.map(t => col(s"x_$t")) :+
        explode(sequence(lit(1), lit(nPerms))).as("__perm"): _*)
      .withColumn("__b", bitCol)
      .groupBy("__perm")
      .agg(sum(when(col("__b") === 0L, 1L).otherwise(0L)).as("n0"),
        types.map(t => sum(when(col("__b") === 0L, col(s"x_$t"))
          .otherwise(0L)).as(s"s0_$t")): _*)
    def d(c: Column) = c.cast("double")
    def diffOf(s0: Column, n0: Column, s: Column): Column = {
      val n1 = col("n") - n0
      when(n0 > 0L && n1 > 0L,
        d(s0) / d(n0) - (d(s) - d(s0)) / d(n1)).otherwise(lit(0.0))
    }
    val base = perUser.agg(count(lit(1)).as("n"), baseAggs: _*)
    // Exceedance counts: one aggregate over the 60-row permutation frame
    // joined to the single base row. sum(when) over the permutation rows
    // adds the same 0/1 longs the wide form's reduce(_+_) added.
    // coalesce(..., nPerms): with ZERO users the permutation frame is
    // empty while the wide form still folded 60 vacuous indicators of 1
    // (diffOf's otherwise-0 on both sides, |0| >= |0|).
    val exceeds = perPerm.crossJoin(broadcast(base))
      .select(types.map { t =>
        val obs = diffOf(col(s"s0g_$t"), col("n0g"), col(s"s_$t"))
        when(abs(diffOf(col(s"s0_$t"), col("n0"), col(s"s_$t"))) >=
          abs(obs), 1L).otherwise(0L).as(s"ex_$t")
      }: _*)
      .agg(sum(col(s"ex_${types.head}")).as(s"exceed_${types.head}"),
        types.tail.map(t => sum(col(s"ex_$t")).as(s"exceed_$t")): _*)
    val m = base.crossJoin(broadcast(exceeds))
    // ONE explode(array(struct…)) melts the single stats row into the 5
    // metric rows — the previous per-metric select + unionAll re-read
    // the row 5x and needed an eager localCheckpoint (a whole extra job
    // at construction time) to avoid re-running the permutation
    // pipeline per metric. Same expressions per metric, same row order
    // (array order = types order = the old union order), so the melt is
    // value-identical.
    val melted = m
      .select(explode(array(types.map { t =>
        val obs = diffOf(col(s"s0g_$t"), col("n0g"), col(s"s_$t"))
        val exceed = coalesce(col(s"exceed_$t"), lit(nPerms.toLong))
        struct(lit(t).as("metric"), r6(obs).as("diff_obs"),
          r6((lit(1.0) + d(exceed)) / lit((nPerms + 1).toDouble))
            .as("p_value"))
      }: _*)).as("r"))
      .select(col("r.metric").as("metric"),
        col("r.diff_obs").as("diff_obs"), col("r.p_value").as("p_value"))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = melted
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_value"), col("metric"))).cast("bigint"))
      .withColumn("bh_cutoff",
        r6(col("rank").cast("double") * lit(qFdr) /
          lit(mCount.toDouble)))
    ranked
      .withColumn("kmax", coalesce(max(
        when(col("p_value") <= col("rank").cast("double") * lit(qFdr) /
          lit(mCount.toDouble), col("rank"))).over(wAll), lit(0L)))
      .select(col("metric"), col("diff_obs"), col("p_value"),
        col("rank"), col("bh_cutoff"),
        when(col("rank") <= col("kmax"), 1).otherwise(0).cast("int")
          .as("discovery_at_q10"))
      .orderBy("metric")
  }

  /** Mann–Kendall trend test + Sen's slope on the daily value series —
    * the nonparametric "is this metric drifting, and how fast" pair
    * operations dashboards run because neither needs the residuals to
    * be normal: S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected
    * variance [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, continuity-corrected
    * Z against the literal 1.96, and the Theil–Sen slope (the exact
    * median of all pairwise slopes — robust where [[StatsAnalytics
    * .linreg]]'s OLS slope chases outliers). The pair frame is the
    * day-bounded self-join (≤ horizon² rows at ANY corpus size — this
    * never touches row granularity), and the median is the
    * deterministic sorted-middle average, not an engine quantile.
    *
    * Scale shape: one day aggregate; pairs, ranks, and folds all run on
    * the day-bounded frame. */
  def mannKendall(ev: DataFrame): DataFrame = {
    val daily = dailySeries(ev)
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy("d"))
        .cast("bigint"))
      .select(col("t"), col("x"))
      .pinned() // both self-join sides + the tie census read it
    val pairs = idx.select(col("t").as("ta"), col("x").as("xa"))
      .join(idx.select(col("t").as("tb"), col("x").as("xb")),
        col("tb") > col("ta"))
      .select(col("ta"), col("tb"),
        when(col("xb") > col("xa"), 1L)
          .when(col("xb") < col("xa"), -1L).otherwise(0L).as("sgn"),
        ((col("xb") - col("xa")) /
          (col("tb") - col("ta")).cast("double")).as("slope"))
      .pinned() // the S fold and the median walk both read it
    val sFold = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("sgn")).as("s"))
    val ties = daily.groupBy("x").agg(count(lit(1)).as("tt"))
      .agg(count(lit(1)).as("n_days"),
        coalesce(sum(col("tt") * (col("tt") - 1L) *
          (lit(2L) * col("tt") + 5L)), lit(0L)).as("tsum"))
    val ranked = pairs
      .withColumn("rn", row_number().over(
        Window.orderBy(col("slope"), col("ta"), col("tb"))))
    // integer DIV, not `/`: Spark's `/` on two longs is DOUBLE division,
    // so `rn === (n+1)/2` compares against 138.5 and silently never
    // matches the lower middle — caught by the reversal-antisymmetry
    // property (the oracle's `//` took both middles; the hash compare
    // passed only because the fixture's middle slopes happened to tie)
    val med = ranked.crossJoin(broadcast(sFold.select(col("n_pairs"))))
      .filter(col("rn") === expr("(n_pairs + 1) div 2") ||
        col("rn") === expr("(n_pairs + 2) div 2"))
      .agg((sum(col("slope").cast("decimal(28,12)")).cast("double") /
        count(lit(1)).cast("double")).as("sen_slope"))
    val m = sFold.crossJoin(broadcast(ties)).crossJoin(broadcast(med))
    val nD = col("n_days").cast("double")
    val varS = (nD * (nD - lit(1.0)) * (lit(2.0) * nD + lit(5.0)) -
      col("tsum").cast("double")) / lit(18.0)
    val sD = col("s").cast("double")
    val sdDiv = sqrt(when(varS > 0.0, varS).otherwise(lit(1.0)))
    val z = when(col("s") > 0L, (sD - lit(1.0)) / sdDiv)
      .when(col("s") < 0L, (sD + lit(1.0)) / sdDiv)
      .otherwise(lit(0.0))
    val ok = varS > 0.0
    m.select(col("n_days"), col("n_pairs"), col("s").as("s_stat"),
      r6(when(ok, varS).otherwise(lit(0.0))).as("var_s"),
      r6(when(ok, z).otherwise(lit(0.0))).as("z_stat"),
      r6(col("sen_slope")).as("sen_slope"),
      when(ok && abs(z) > lit(1.96),
        when(col("s") > 0L, 1).otherwise(-1)).otherwise(0)
        .cast("int").as("trend_at_196"))
  }

  /** TOST equivalence test (Schuirmann 1987) on per-user spend across
    * the md5 A/B split — the inference a rollout gate actually needs:
    * not "is there a difference" but "is any difference SMALLER than
    * the margin we care about". Two one-sided Welch statistics against
    * a ±5%-of-grand-mean margin; equivalence is declared when BOTH
    * clear the literal one-sided 5% normal value 1.645 (large per-arm
    * counts make the t quantile indistinguishable — stated, the
    * grangerLag1 fixed-critical-value convention). Moments fold through
    * DECIMAL; the single se division is sentinel-guarded.
    *
    * Scale shape: one user aggregate, one two-row arm fold. */
  def tost(ev: DataFrame, marginFrac: Double = 0.05): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(round(sum(when(col("event_type") === "purchase",
          coalesce(col("value"), lit(0.0))).otherwise(lit(0.0))
          .cast("decimal(18,6)")), 2).cast("double").as("spend"))
      .withColumn("variant", Sampling.hashBucket(col("user_id"), 2))
    def dc(c: Column) = c.cast("decimal(38,12)")
    def arm(v: Int, suffix: String) = Seq(
      sum(when(col("variant") === v, 1L).otherwise(0L)).as(s"n$suffix"),
      sum(when(col("variant") === v, dc(col("spend")))
        .otherwise(dc(lit(0.0)))).cast("double").as(s"sx$suffix"),
      sum(when(col("variant") === v, dc(col("spend") * col("spend")))
        .otherwise(dc(lit(0.0)))).cast("double").as(s"sxx$suffix"))
    val aggs = arm(0, "a") ++ arm(1, "b")
    val m = per.agg(aggs.head, aggs.tail: _*)
    def nD(s: String) = greatest(col(s"n$s"), lit(1L)).cast("double")
    def mean(s: String) = col(s"sx$s") / nD(s)
    def variance(s: String) =
      (col(s"sxx$s") - col(s"sx$s") * col(s"sx$s") / nD(s)) /
        greatest(col(s"n$s") - 1L, lit(1L)).cast("double")
    val diff = mean("b") - mean("a")
    val delta = lit(marginFrac) *
      ((col("sxa") + col("sxb")) /
        greatest(col("na") + col("nb"), lit(1L)).cast("double"))
    val se2 = variance("a") / nD("a") + variance("b") / nD("b")
    val se = sqrt(when(se2 > 0.0, se2).otherwise(lit(1.0)))
    val ok = col("na") > 1L && col("nb") > 1L && se2 > 0.0
    val tLower = (diff + delta) / se
    val tUpper = (delta - diff) / se
    m.select(col("na").as("users_a"), col("nb").as("users_b"),
      r6(mean("a")).as("mean_a"), r6(mean("b")).as("mean_b"),
      r6(diff).as("diff"), r6(delta).as("margin"),
      r6(when(ok, se).otherwise(lit(0.0))).as("se"),
      r6(when(ok, tLower).otherwise(lit(0.0))).as("t_lower"),
      r6(when(ok, tUpper).otherwise(lit(0.0))).as("t_upper"),
      when(ok && tLower > lit(1.645) && tUpper > lit(1.645), 1)
        .otherwise(0).cast("int").as("equivalent_at_1645"))
  }

  /** Doubly-robust (AIPW) average treatment effect of heavy clicking on
    * purchase — the estimator that stays consistent if EITHER the
    * propensity model OR the outcome model is right, where
    * [[StatsAnalytics.ipwAte]] bets everything on the propensity.
    * Treatment is the eValue convention (≥ 14 clicks); the confounding
    * cells are active-day buckets (1, 2, 3+); both nuisance models are
    * the cell means, so every "model" is a count ratio and the whole
    * estimator is exact-integer inputs + per-user ratios folded through
    * DECIMAL. Cells without overlap (no treated or no control user)
    * have no defined counterfactual and are excluded, with the drop
    * accounted in the report — the ipwAte positivity discipline. The
    * plain regression (cell-mean) and IPW estimates ship alongside for
    * the classic triangulation.
    *
    * Scale shape: one user aggregate → ≤ 3-row cell frame (broadcast
    * back) → one user-frame fold. */
  def aipwAte(ev: DataFrame): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"),
        countDistinct(to_date(col("ts"))).as("days"))
      .select(col("user_id"),
        when(col("clicks") >= 14L, 1L).otherwise(0L).as("t"), col("y"),
        least(col("days"), lit(3L)).as("x"))
    val cells = per.groupBy("x")
      .agg(count(lit(1)).as("nx"), sum(col("t")).as("n1"),
        sum(col("t") * col("y")).as("s1y"),
        sum((lit(1L) - col("t")) * col("y")).as("s0y"))
      .withColumn("keep", col("n1") > 0L && col("n1") < col("nx"))
    val nCells = cells.agg(count(lit(1)).as("n_cells"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_cells_kept"),
      sum(col("nx")).as("n_users"))
    val keptCells = cells.filter(col("keep"))
      .withColumn("m1", col("s1y").cast("double") /
        greatest(col("n1"), lit(1L)).cast("double"))
      .withColumn("m0", col("s0y").cast("double") /
        greatest(col("nx") - col("n1"), lit(1L)).cast("double"))
    val j = per.join(broadcast(keptCells), "x")
    val tD = col("t").cast("double")
    val yD = col("y").cast("double")
    // T(y−m1)/e with e = n1/nx  ⇒  T(y−m1)·nx/n1 — integer-ratio form
    val wx1 = col("nx").cast("double") /
      greatest(col("n1"), lit(1L)).cast("double")
    val wx0 = col("nx").cast("double") /
      greatest(col("nx") - col("n1"), lit(1L)).cast("double")
    val psi = col("m1") - col("m0") + tD * (yD - col("m1")) * wx1 -
      (lit(1.0) - tD) * (yD - col("m0")) * wx0
    val ipw = tD * yD * wx1 - (lit(1.0) - tD) * yD * wx0
    def dc(c: Column) = c.cast("decimal(28,12)")
    val folds = j.agg(count(lit(1)).as("n_kept"),
      sum(dc(psi)).cast("double").as("spsi"),
      sum(dc(ipw)).cast("double").as("sipw"),
      sum(dc(col("m1") - col("m0"))).cast("double").as("sreg"))
    val nk = greatest(col("n_kept"), lit(1L)).cast("double")
    val ok = col("n_kept") > 0L
    folds.crossJoin(broadcast(nCells))
      .select(col("n_users"), col("n_kept").as("n_users_kept"),
        (col("n_users") - col("n_kept")).as("n_users_dropped"),
        col("n_cells"), col("n_cells_kept"),
        r6(when(ok, col("sreg") / nk).otherwise(lit(0.0))).as("ate_reg"),
        r6(when(ok, col("sipw") / nk).otherwise(lit(0.0))).as("ate_ipw"),
        r6(when(ok, col("spsi") / nk).otherwise(lit(0.0))).as("ate_aipw"))
  }

  /** First-order partial correlation — does clicking correlate with
    * purchasing ONCE browsing volume is held fixed: r_xy·z =
    * (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) over per-user (clicks,
    * purchases, views). The raw r_xy answer is confounded by overall
    * activity; the partial is the one a funnel owner should read. All
    * nine moments fold in ONE pass through DECIMAL; the three Pearson
    * r's and the partial are scalar algebra with sentinel-guarded
    * roots.
    *
    * Scale shape: one user aggregate, one scalar fold. */
  def partialCorr(ev: DataFrame): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("double").as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("double").as("y"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("double").as("z"))
    def dz(c: Column) = c.cast("decimal(38,12)")
    val m = per.agg(count(lit(1)).as("n"),
      sum(dz(col("x"))).cast("double").as("sx"),
      sum(dz(col("y"))).cast("double").as("sy"),
      sum(dz(col("z"))).cast("double").as("sz"),
      sum(dz(col("x") * col("x"))).cast("double").as("sxx"),
      sum(dz(col("y") * col("y"))).cast("double").as("syy"),
      sum(dz(col("z") * col("z"))).cast("double").as("szz"),
      sum(dz(col("x") * col("y"))).cast("double").as("sxy"),
      sum(dz(col("x") * col("z"))).cast("double").as("sxz"),
      sum(dz(col("y") * col("z"))).cast("double").as("syz"))
    val nD = col("n").cast("double")
    def cov(sab: Column, sa: Column, sb: Column) = nD * sab - sa * sb
    def varT(saa: Column, sa: Column) = nD * saa - sa * sa
    def rOf(sab: Column, sa: Column, sb: Column,
            saa: Column, sbb: Column): Column = {
      val den = sqrt(greatest(varT(saa, sa) * varT(sbb, sb), lit(0.0)))
      val denDiv = when(den =!= 0.0, den).otherwise(lit(1.0))
      when(den =!= 0.0, cov(sab, sa, sb) / denDiv).otherwise(lit(0.0))
    }
    val rxy = rOf(col("sxy"), col("sx"), col("sy"), col("sxx"),
      col("syy"))
    val rxz = rOf(col("sxz"), col("sx"), col("sz"), col("sxx"),
      col("szz"))
    val ryz = rOf(col("syz"), col("sy"), col("sz"), col("syy"),
      col("szz"))
    val pden = sqrt(greatest((lit(1.0) - rxz * rxz) *
      (lit(1.0) - ryz * ryz), lit(0.0)))
    val pdenDiv = when(pden =!= 0.0, pden).otherwise(lit(1.0))
    val partial = (rxy - rxz * ryz) / pdenDiv
    m.select(col("n").as("n_users"),
      r6(rxy).as("r_click_purchase"), r6(rxz).as("r_click_view"),
      r6(ryz).as("r_purchase_view"),
      r6(when(pden =!= 0.0, partial).otherwise(lit(0.0)))
        .as("r_partial_given_view"),
      when(pden =!= 0.0 && abs(partial) < abs(rxy) / lit(2.0), 1)
        .otherwise(0).cast("int").as("mostly_confounded"))
  }

  /** Lin's concordance correlation between the seasonal-naive forecast
    * (same weekday last week) and the realized daily revenue — the
    * AGREEMENT metric a forecast consumer wants where Pearson only
    * measures linearity: CCC = 2·s_xy / (s_x² + s_y² + (x̄−ȳ)²)
    * penalizes both scale and location bias, so a forecast that is
    * correlated but consistently high scores low. Population moments
    * (stated), DECIMAL folds, sentinel-guarded denominators.
    *
    * Scale shape: one day aggregate, one lag projection, one scalar
    * fold — all day-bounded. */
  def linCcc(ev: DataFrame): DataFrame = {
    val daily = dailySeries(ev)
    val pairs = daily
      .withColumn("yhat", lag(col("x"), 7).over(Window.orderBy("d")))
      .filter(col("yhat").isNotNull)
    def dz(c: Column) = c.cast("decimal(38,12)")
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(dz(col("x"))).cast("double").as("sx"),
      sum(dz(col("yhat"))).cast("double").as("sy"),
      sum(dz(col("x") * col("x"))).cast("double").as("sxx"),
      sum(dz(col("yhat") * col("yhat"))).cast("double").as("syy"),
      sum(dz(col("x") * col("yhat"))).cast("double").as("sxy"))
    val nD = greatest(col("n"), lit(1L)).cast("double")
    val mx = col("sx") / nD
    val my = col("sy") / nD
    val vx = col("sxx") / nD - mx * mx
    val vy = col("syy") / nD - my * my
    val cxy = col("sxy") / nD - mx * my
    val cccDen = vx + vy + (mx - my) * (mx - my)
    val cccDiv = when(cccDen =!= 0.0, cccDen).otherwise(lit(1.0))
    val ccc = lit(2.0) * cxy / cccDiv
    val pDen = sqrt(greatest(vx * vy, lit(0.0)))
    val pDiv = when(pDen =!= 0.0, pDen).otherwise(lit(1.0))
    val pearson = cxy / pDiv
    val ok = col("n") > 1L
    m.select(col("n").as("n_pairs"),
      r6(mx).as("mean_actual"), r6(my).as("mean_snaive"),
      r6(when(ok && pDen =!= 0.0, pearson).otherwise(lit(0.0)))
        .as("pearson"),
      r6(when(ok && cccDen =!= 0.0, ccc).otherwise(lit(0.0)))
        .as("lin_ccc"),
      when(ok && cccDen =!= 0.0 && ccc > lit(0.9), 1).otherwise(0)
        .cast("int").as("substantial_at_0_9"))
  }

  /** Diebold–Mariano forecast comparison — IS the seasonal-naive
    * (same weekday last week) forecast actually better than the plain
    * naive (yesterday), or is the gap noise? The test every forecast
    * bake-off should end with: loss differential d_t = e²_snaive −
    * e²_naive, DM = d̄ / √(Var_p(d)/n) (population variance, lag-0 —
    * the short-horizon form, stated; HAC would matter for h-step
    * overlapping errors). Sign says who wins, the literal 1.96 says
    * whether to care. DECIMAL folds throughout.
    *
    * Scale shape: one day aggregate, two lag projections, one fold. */
  def dieboldMariano(ev: DataFrame): DataFrame = {
    val daily = dailySeries(ev)
    val w = Window.orderBy("d")
    val rows = daily
      .withColumn("f1", lag(col("x"), 7).over(w))
      .withColumn("f2", lag(col("x"), 1).over(w))
      .filter(col("f1").isNotNull && col("f2").isNotNull)
      .select(col("x"),
        ((col("x") - col("f1")) * (col("x") - col("f1"))).as("l1"),
        ((col("x") - col("f2")) * (col("x") - col("f2"))).as("l2"))
      .withColumn("dd", col("l1") - col("l2"))
    def dz(c: Column) = c.cast("decimal(38,12)")
    val m = rows.agg(count(lit(1)).as("n"),
      sum(dz(col("l1"))).cast("double").as("sl1"),
      sum(dz(col("l2"))).cast("double").as("sl2"),
      sum(dz(col("dd"))).cast("double").as("sd"),
      sum(dz(col("dd") * col("dd"))).cast("double").as("sdd"))
    val nD = greatest(col("n"), lit(1L)).cast("double")
    val meanD = col("sd") / nD
    val varD = col("sdd") / nD - meanD * meanD
    val seDiv = sqrt(when(varD > 0.0, varD / nD).otherwise(lit(1.0)))
    val dm = meanD / seDiv
    val ok = col("n") > 1L && varD > 0.0
    m.select(col("n").as("n_days"),
      r6(col("sl1") / nD).as("mse_snaive"),
      r6(col("sl2") / nD).as("mse_naive"),
      r6(meanD).as("mean_loss_diff"),
      r6(when(ok, dm).otherwise(lit(0.0))).as("dm_stat"),
      when(ok && dm < lit(-1.96), 1).when(ok && dm > lit(1.96), -1)
        .otherwise(0).cast("int").as("snaive_better_at_196"))
  }

  /** Pinball (quantile) loss of the seasonal-naive forecast at the
    * τ ∈ {0.1, 0.5, 0.9} grid — the metric that scores a forecast as a
    * QUANTILE estimate, the lingua franca of demand/capacity planning
    * (M5 uncertainty track): L_τ = mean(max(τ·(y−ŷ), (τ−1)·(y−ŷ))).
    * The τ = 0.5 row is MAE/2 by identity, shipped as the mae column
    * for the cross-check. One row per τ; DECIMAL folds.
    *
    * Scale shape: one day aggregate, one lag projection, three
    * day-bounded fold arms. */
  def pinballLoss(ev: DataFrame,
                  taus: Seq[Double] = Seq(0.1, 0.5, 0.9)): DataFrame = {
    val daily = dailySeries(ev)
    val rows = daily
      .withColumn("yhat", lag(col("x"), 7).over(Window.orderBy("d")))
      .filter(col("yhat").isNotNull)
      .withColumn("err", col("x") - col("yhat"))
      .pinned() // every τ arm folds the same frame
    def dz(c: Column) = c.cast("decimal(38,12)")
    val arms = taus.map { t =>
      val loss = greatest(lit(t) * col("err"),
        lit(t - 1.0) * col("err"))
      rows.agg(count(lit(1)).as("n"),
          sum(dz(loss)).cast("double").as("sl"),
          sum(dz(abs(col("err")))).cast("double").as("sa"))
        .select(lit(t).as("tau"), col("n").as("n_days"),
          r6(col("sl") / greatest(col("n"), lit(1L)).cast("double"))
            .as("pinball"),
          r6(col("sa") / greatest(col("n"), lit(1L)).cast("double"))
            .as("mae"))
    }
    arms.reduce(_ unionAll _).orderBy("tau")
  }

  /** Empirical upper-tail dependence between line price and quantity —
    * the copula question risk controls ask that correlation cannot
    * answer: when one variable is extreme, how often is the OTHER
    * extreme too? λ̂_U = P(X > x₀.₉₅ ∣ Y > y₀.₉₅) against the
    * independence baseline P(X > x₀.₉₅); a ratio ≫ 1 means joint
    * blow-ups cluster. Thresholds are EXACT order statistics
    * (deterministic tiebreak on the row key), found by the rank walk —
    * oracle-grade here; at 100 TB the same thresholds come from a
    * two-pass histogram refinement and the dependence fold is
    * unchanged, which is the part that matters.
    *
    * Scale shape: two rank walks for the thresholds + one fold. */
  def tailDependence(lineitem: DataFrame, q: Double = 0.95): DataFrame = {
    val base = lineitem.select(col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice").cast("double").as("x"),
      col("l_quantity").cast("double").as("y"))
      .pinned() // both rank walks + the fold read it
    val n0 = base.agg(count(lit(1)).as("n"))
    def threshold(c: String): DataFrame = {
      // exact order statistic without a corpus-wide single-partition
      // window: distributed two-pass rank, then select the k-th row.
      // The walk ranks the SINGLE value column (guide §2.2 — shuffle
      // fewer bytes): which of equal-valued rows lands on rank k cannot
      // change the k-th VALUE, so the unique (orderkey, linenumber)
      // tiebreak the old form sorted along is dead weight here.
      val ranked = graft.operators.GlobalRank.withRowNumber(
        base.select(col(c)), Seq(col(c)), "rn")
      ranked.crossJoin(broadcast(n0))
        .filter(col("rn") ===
          greatest(ceil(lit(q) * col("n").cast("double")).cast("bigint"),
            lit(1L)))
        .select(col(c).as(s"thr_$c"))
    }
    val folds = base
      .crossJoin(broadcast(threshold("x")))
      .crossJoin(broadcast(threshold("y")))
      .agg(count(lit(1)).as("n"),
        max(col("thr_x")).as("thr_x"), max(col("thr_y")).as("thr_y"),
        sum(when(col("x") > col("thr_x"), 1L).otherwise(0L)).as("nx"),
        sum(when(col("y") > col("thr_y"), 1L).otherwise(0L)).as("ny"),
        sum(when(col("x") > col("thr_x") && col("y") > col("thr_y"), 1L)
          .otherwise(0L)).as("nj"))
    def d(c: Column) = c.cast("double")
    val cond = d(col("nj")) / d(greatest(col("ny"), lit(1L)))
    val baseRate = d(col("nx")) / d(greatest(col("n"), lit(1L)))
    val okT = col("ny") > 0L && col("nx") > 0L
    folds.select(col("n").as("n_rows"),
      r6(col("thr_x")).as("price_q95"), r6(col("thr_y")).as("qty_q95"),
      col("nx").as("n_price_exceed"), col("ny").as("n_qty_exceed"),
      col("nj").as("n_joint_exceed"),
      r6(when(okT, cond).otherwise(lit(0.0))).as("lambda_upper"),
      r6(when(okT, baseRate).otherwise(lit(0.0))).as("indep_baseline"),
      when(okT && cond > lit(2.0) * baseRate, 1).otherwise(0).cast("int")
        .as("tail_dependent_at_2x"))
  }

  /** Record-counts trend test on the daily value series — the
    * distribution-free "is this series drifting up" check that needs NO
    * distributional assumption at all: under exchangeability the
    * expected number of running-maximum records in n days is the
    * harmonic number H_n with variance H_n − H_n⁽²⁾, both computed
    * EXACTLY as folds over the day index; the z-flag at the literal
    * 1.96 reads excess records as upward drift. The cheap companion to
    * [[mannKendall]] (O(n) vs O(n²) in days — at a 10-year horizon the
    * pair frame is 6.6M rows, this is 3650).
    *
    * Scale shape: one day aggregate, two window passes, one fold. */
  def recordCounts(ev: DataFrame): DataFrame = {
    val daily = dailySeries(ev)
    val wPrev = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = daily
      .withColumn("rn", row_number().over(Window.orderBy("d"))
        .cast("bigint"))
      .withColumn("prevmax", max(col("x")).over(wPrev))
      .withColumn("rec",
        when(col("prevmax").isNull || col("x") > col("prevmax"), 1L)
          .otherwise(0L))
    def dz(c: Column) = c.cast("decimal(28,12)")
    val m = flagged.agg(count(lit(1)).as("n_days"),
      sum(col("rec")).as("n_records"),
      sum(dz(lit(1.0) / col("rn").cast("double"))).cast("double")
        .as("h1"),
      sum(dz(lit(1.0) / (col("rn") * col("rn")).cast("double")))
        .cast("double").as("h2"))
    val varR = col("h1") - col("h2")
    val sdDiv = sqrt(when(varR > 0.0, varR).otherwise(lit(1.0)))
    val z = (col("n_records").cast("double") - col("h1")) / sdDiv
    val ok = varR > 0.0
    m.select(col("n_days"), col("n_records"),
      r6(col("h1")).as("expected_records"),
      r6(when(ok, varR).otherwise(lit(0.0))).as("var_records"),
      r6(when(ok, z).otherwise(lit(0.0))).as("z_stat"),
      when(ok && z > lit(1.96), 1).when(ok && z < lit(-1.96), -1)
        .otherwise(0).cast("int").as("drift_at_196"))
  }

  /** Two-sample Anderson–Darling + Cramér–von Mises on the weekday vs
    * weekend daily-revenue distributions — the distribution-equality
    * tests that outrank [[StatsAnalytics]]'s KS at the tails (AD
    * weights the extremes by 1/(F(1−F))), asked on the question ops
    * teams actually argue about: is weekend revenue just a shifted
    * weekday, or a different shape entirely. Pooled-rank forms (Pettitt
    * 1976): with M_i = weekend observations among the first i pooled
    * order statistics, AD = Σ_{i<N} (M_i·N − m·i)²/(i(N−i)) / (n·m) and
    * CvM = Σ_i (M_i/m − (i−M_i)/n)² · nm/N². Ties are broken by date —
    * a fixed permutation both engines sort identically, stated here
    * because the classic midrank variant would need a different fold.
    * Flags at the literal 5% values 2.492 (AD) and 0.461 (CvM).
    *
    * Scale shape: one day aggregate; the rank walk runs on the
    * day-bounded frame. */
  def andersonDarling(ev: DataFrame): DataFrame = {
    // epoch day via datediff on DATE values — TZ-free by construction
    // (a DATE→TIMESTAMP cast would shift with the session timezone for
    // library callers without the entry points' pinned UTC session)
    val daily = dailySeries(ev)
      .withColumn("dow",
        ((datediff(col("d"), lit("1970-01-01")) + lit(4)) % 7)
        .cast("int"))
      .withColumn("grp",
        when(col("dow") === 0 || col("dow") === 6, 1L).otherwise(0L))
    val w = Window.orderBy(col("x"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(sum(col("grp")).as("m"),
      count(lit(1)).as("nn"))
    val ranked = daily.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(Window.orderBy(col("x"),
        col("d"))).cast("bigint"))
      .withColumn("mi", sum(col("grp")).over(w))
    def d(c: Column) = c.cast("double")
    def dc(c: Column) = c.cast("decimal(28,12)")
    val nSmall = col("nn") - col("m") // weekday count n
    val adTerm = when(col("i") < col("nn"),
      dc(d(col("mi") * col("nn") - col("m") * col("i")) *
        d(col("mi") * col("nn") - col("m") * col("i")) /
        d(col("i") * (col("nn") - col("i")))))
      .otherwise(dc(lit(0.0)))
    val cvmTerm = dc((d(col("mi")) / d(greatest(col("m"), lit(1L))) -
      d(col("i") - col("mi")) / d(greatest(nSmall, lit(1L)))) *
      (d(col("mi")) / d(greatest(col("m"), lit(1L))) -
        d(col("i") - col("mi")) / d(greatest(nSmall, lit(1L)))))
    val folds = ranked.agg(max(col("m")).as("m"), max(col("nn")).as("nn"),
      sum(adTerm).cast("double").as("adsum"),
      sum(cvmTerm).cast("double").as("cvmsum"))
    val ok = col("m") > 0L && col("nn") - col("m") > 0L
    val nm = d(greatest(col("m"), lit(1L))) *
      d(greatest(col("nn") - col("m"), lit(1L)))
    val ad = col("adsum") / nm
    val cvm = col("cvmsum") * nm / (d(col("nn")) * d(col("nn")))
    folds.select((col("nn") - col("m")).as("n_weekday"),
      col("m").as("n_weekend"),
      r6(when(ok, ad).otherwise(lit(0.0))).as("ad_stat"),
      r6(when(ok, cvm).otherwise(lit(0.0))).as("cvm_stat"),
      when(ok && ad > lit(2.492), 1).otherwise(0).cast("int")
        .as("ad_reject_at_2492"),
      when(ok && cvm > lit(0.461), 1).otherwise(0).cast("int")
        .as("cvm_reject_at_0461"))
  }

  /** Kaplan–Meier with Greenwood confidence bands — the error bars the
    * published survival curve ([[StatsAnalytics.survivalKm]], whose
    * 6dp s_km this reproduces exactly) must carry before anyone acts
    * on it: Var(S) = S²·Σ_{t_k≤t} d/(n(n−d)), the ±1.96·se band
    * clamped to [0, 1]. The absorbing S = 0 state (everyone at risk
    * died) zeroes the band too — its variance term is undefined and
    * the estimate is exact there.
    *
    * Scale shape: one user aggregate, then window folds on the
    * day-bounded risk table. */
  def kmGreenwood(ev: DataFrame): DataFrame = {
    val life = ev.filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id")
      .agg(datediff(max(col("d")), min(col("d"))).cast("bigint").as("t"),
        max(col("d")).as("last_d"))
    val horizon = life.agg(max(col("last_d")).as("h"))
    val pt = life.crossJoin(broadcast(horizon))
      .select(col("t"),
        when(col("last_d") === col("h"), 1L).otherwise(0L).as("cen"))
      .groupBy("t")
      .agg(sum(lit(1L) - col("cen")).as("d"), sum(col("cen")).as("c"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = pt.agg(sum(col("d") + col("c")).as("n_total"))
    def dd(c: Column) = c.cast("double")
    val logTerm = when(col("d") > 0 && col("d") < col("n_risk"),
      log(lit(1.0) - dd(col("d")) / dd(col("n_risk")))
        .cast("decimal(28,12)")).otherwise(lit(0.0).cast("decimal(28,12)"))
    val gwTerm = when(col("d") > 0 && col("d") < col("n_risk"),
      (dd(col("d")) / (dd(col("n_risk")) *
        dd(greatest(col("n_risk") - col("d"), lit(1L)))))
        .cast("decimal(28,12)")).otherwise(lit(0.0).cast("decimal(28,12)"))
    val zeroFlag = max(when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .over(w)
    val sRaw = exp(sum(logTerm).over(w).cast("double"))
    val se = sRaw * sqrt(sum(gwTerm).over(w).cast("double"))
    pt.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev),
          lit(0L)))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        when(zeroFlag === 1L, lit(0.0)).otherwise(round(sRaw, 6))
          .as("s_km"),
        r6(when(zeroFlag === 1L, lit(0.0)).otherwise(se))
          .as("se_greenwood"),
        r6(when(zeroFlag === 1L, lit(0.0))
          .otherwise(greatest(sRaw - lit(1.96) * se, lit(0.0))))
          .as("ci_lo"),
        r6(when(zeroFlag === 1L, lit(0.0))
          .otherwise(least(sRaw + lit(1.96) * se, lit(1.0))))
          .as("ci_hi"))
      .orderBy("t")
  }

  /** O'Brien–Fleming group-sequential monitoring of the A/B spend
    * metric — the interim-analysis discipline that lets an experiment
    * peek weekly WITHOUT inflating its false-positive rate: the week-k
    * Welch z is compared against the escalating boundary
    * C·√(K/k) (C the two-sided 5% OBF constant tabled in [[ObfTables]]
    * for K = 1…5 looks, e.g. K = 4 → 2.024),
    * so early stops demand overwhelming evidence and the final
    * look pays almost no penalty. Users enter the denominator at their
    * first event; spend accumulates cumulatively — all K interim
    * readouts fold in ONE pass over the user frame (the bhFdr wide-agg
    * shape). Boundaries are Scala-computed literals shared with the
    * oracle.
    *
    * Scale shape: one user aggregate with 4·K conditional sums, then a
    * K-row melt. */
  def groupSequential(ev: DataFrame, looks: Int = 4): DataFrame = {
    val base = ev.filter(col("user_id").isNotNull)
    val d0 = base.agg(min(to_date(col("ts"))).as("d0"))
    val perAggs: Seq[Column] =
      min(datediff(to_date(col("ts")), col("d0"))).cast("bigint")
        .as("first_off") +:
      (1 to looks).map(k => round(sum(when(
        col("event_type") === "purchase" &&
          datediff(to_date(col("ts")), col("d0")) < k * 7,
        coalesce(col("value"), lit(0.0))).otherwise(lit(0.0))
        .cast("decimal(18,6)")), 2).cast("double").as(s"sp_$k"))
    val per = base.crossJoin(broadcast(d0))
      .groupBy("user_id")
      .agg(perAggs.head, perAggs.tail: _*)
      .withColumn("variant", Sampling.hashBucket(col("user_id"), 2))
    def dc(c: Column) = c.cast("decimal(38,12)")
    val aggs: Seq[Column] = (1 to looks).flatMap { k =>
      val in = col("first_off") < (k * 7).toLong
      Seq(
        sum(when(in && col("variant") === 0L, 1L).otherwise(0L))
          .as(s"na_$k"),
        sum(when(in && col("variant") === 0L, dc(col(s"sp_$k")))
          .otherwise(dc(lit(0.0)))).cast("double").as(s"sxa_$k"),
        sum(when(in && col("variant") === 0L,
          dc(col(s"sp_$k") * col(s"sp_$k")))
          .otherwise(dc(lit(0.0)))).cast("double").as(s"sxxa_$k"),
        sum(when(in && col("variant") === 1L, 1L).otherwise(0L))
          .as(s"nb_$k"),
        sum(when(in && col("variant") === 1L, dc(col(s"sp_$k")))
          .otherwise(dc(lit(0.0)))).cast("double").as(s"sxb_$k"),
        sum(when(in && col("variant") === 1L,
          dc(col(s"sp_$k") * col(s"sp_$k")))
          .otherwise(dc(lit(0.0)))).cast("double").as(s"sxxb_$k"))
    }
    val m = per.agg(aggs.head, aggs.tail: _*)
      .pinned() // the K melts all read this one row
    val rows = (1 to looks).map { k =>
      val naD = greatest(col(s"na_$k"), lit(1L)).cast("double")
      val nbD = greatest(col(s"nb_$k"), lit(1L)).cast("double")
      val ma = col(s"sxa_$k") / naD
      val mb = col(s"sxb_$k") / nbD
      val va = (col(s"sxxa_$k") - col(s"sxa_$k") * col(s"sxa_$k") / naD) /
        greatest(col(s"na_$k") - 1L, lit(1L)).cast("double")
      val vb = (col(s"sxxb_$k") - col(s"sxb_$k") * col(s"sxb_$k") / nbD) /
        greatest(col(s"nb_$k") - 1L, lit(1L)).cast("double")
      val se2 = va / naD + vb / nbD
      val se = sqrt(when(se2 > 0.0, se2).otherwise(lit(1.0)))
      val ok = col(s"na_$k") > 1L && col(s"nb_$k") > 1L && se2 > 0.0
      val z = (mb - ma) / se
      val bound = ObfTables.boundary(looks, k)
      m.select(lit(k.toLong).as("week"),
        col(s"na_$k").as("n_a"), col(s"nb_$k").as("n_b"),
        r6(mb - ma).as("diff"),
        r6(when(ok, se).otherwise(lit(0.0))).as("se"),
        r6(when(ok, z).otherwise(lit(0.0))).as("z_stat"),
        lit(bound).as("obf_bound"),
        when(ok && abs(z) > lit(bound), 1).otherwise(0).cast("int")
          .as("crossed"))
    }
    val melted = rows.reduce(_ unionAll _)
    val wCum = Window.orderBy("week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    melted
      .withColumn("stopped_by_now",
        max(col("crossed")).over(wCum).cast("int"))
      .orderBy("week")
  }

  /** Exact Bayesian A/B — P(rate_B > rate_A) under independent
    * Beta(1+conv, 1+non-conv) posteriors, by the closed finite sum
    * (Cook 2005): P = Σ_{i<a₂} exp(lnB(a₁+i, b₁+b₂) − ln(b₂+i)
    * − lnB(1+i, b₂) − lnB(a₁, b₁)) — the number a decision memo
    * actually wants where [[StatsAnalytics.abLift]] reports a
    * frequentist lift. All four log-Beta calls run through the shared
    * [[PortableGamma]] Lanczos literals, so DuckDB reproduces every
    * term; the sum frame is CONVERSIONS-bounded (a₂ rows — experiment
    * scale, not corpus scale: by the time conversions reach the
    * millions the CLT normal answer is identical to this sum's, and
    * this exact form is what validates that approximation).
    *
    * Scale shape: one user aggregate → a conversions-bounded exploded
    * sum → one row. */
  def bayesAb(ev: DataFrame, minValue: Double = 90.0): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > minValue, 1L).otherwise(0L)).as("converted"))
      .withColumn("variant", Sampling.hashBucket(col("user_id"), 2))
    val m = per.agg(
      sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("users_a"),
      sum(when(col("variant") === 0L, col("converted")).otherwise(0L))
        .as("conv_a"),
      sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("users_b"),
      sum(when(col("variant") === 1L, col("converted")).otherwise(0L))
        .as("conv_b"))
      .withColumn("a1", (col("conv_a") + 1L).cast("double"))
      .withColumn("b1", (col("users_a") - col("conv_a") + 1L)
        .cast("double"))
      .withColumn("a2", (col("conv_b") + 1L).cast("double"))
      .withColumn("b2", (col("users_b") - col("conv_b") + 1L)
        .cast("double"))
      .pinned() // the sum frame and the report both read it
    import PortableGamma.{lbeta, lgamma}
    val terms = m
      .select(col("*"), explode(sequence(lit(0L),
        (col("a2") - lit(1.0)).cast("bigint"))).as("i"))
      .select(col("*"), col("i").cast("double").as("iD"))
    val logTerm = lbeta(col("a1") + col("iD"), col("b1") + col("b2")) -
      log(col("b2") + col("iD")) -
      lbeta(lit(1.0) + col("iD"), col("b2")) -
      lbeta(col("a1"), col("b1"))
    val p = terms.agg(
      sum(exp(logTerm).cast("decimal(28,12)")).cast("double").as("pr"))
    def d(c: Column) = c.cast("double")
    m.crossJoin(broadcast(p))
      .select(col("users_a"), col("conv_a"), col("users_b"),
        col("conv_b"),
        r6(d(col("conv_a")) / greatest(col("users_a"), lit(1L))
          .cast("double")).as("rate_a"),
        r6(d(col("conv_b")) / greatest(col("users_b"), lit(1L))
          .cast("double")).as("rate_b"),
        r6(col("pr")).as("prob_b_beats_a"),
        when(col("pr") > lit(0.95), 1).otherwise(0).cast("int")
          .as("decide_b_at_95"))
  }

  /** GEV fit of the daily-maximum transaction value by probability-
    * weighted moments (Hosking, Wallis & Wood 1985) — block-maxima
    * extreme-value analysis, the complement of [[StatsAnalytics
    * .gpdTail]]'s peaks-over-threshold: blocks are days, the fitted
    * (k, σ, μ) price "what is the largest single transaction we should
    * expect in T days" (the 30-day return level ships as a column).
    * PWM b₀/b₁/b₂ fold over the sorted day-bounded frame; the shape
    * comes from Hosking's c-approximation, Γ(1+k) from the shared
    * [[PortableGamma]] Lanczos literals, and the |k| < 1e-9 Gumbel
    * limit takes the closed σ = (2b₁−b₀)/ln2, μ = b₀ − γ·σ branch on
    * BOTH engines.
    *
    * Scale shape: one day aggregate; rank weights and every fold run
    * on the day-bounded frame. */
  def gevMaxima(ev: DataFrame, returnDays: Int = 30): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(max(col("value")).as("x"))
    val ranked = daily
      .withColumn("j", row_number().over(Window.orderBy(col("x"),
        col("d"))).cast("bigint"))
    def d(c: Column) = c.cast("double")
    def dc(c: Column) = c.cast("decimal(38,12)")
    val n = col("nn")
    val tot = ranked.agg(count(lit(1)).as("nn"))
    val folds = ranked.crossJoin(broadcast(tot))
      .agg(max(col("nn")).as("nn"),
        sum(dc(col("x"))).cast("double").as("s0"),
        sum(dc(col("x") * (d(col("j") - 1L) /
          d(greatest(col("nn") - 1L, lit(1L)))))).cast("double").as("s1"),
        sum(dc(col("x") * (d((col("j") - 1L) * (col("j") - 2L)) /
          d(greatest((col("nn") - 1L) * (col("nn") - 2L), lit(1L))))))
          .cast("double").as("s2"))
    // The fit chain is factored through LAYERED projections on the
    // 1-row folds frame: rl ⊃ mu ⊃ sigma ⊃ gk ⊃ lgamma(1+k) ⊃ k, and
    // inlining every layer into every output column (the previous form)
    // ballooned the plan to ~370 KB of repeated Lanczos literals that
    // cost the optimizer ~0.9 s per run at any data size. CollapseProject
    // keeps the layers apart (non-cheap producers referenced repeatedly
    // are not re-inlined), and each named column evaluates the SAME
    // double arithmetic as before — bit-identical output.
    val nD = d(greatest(n, lit(1L)))
    val staged = folds
      .withColumn("b0", col("s0") / nD)
      .withColumn("b1", col("s1") / nD)
      .withColumn("b2", col("s2") / nD)
      .withColumn("num", lit(2.0) * col("b1") - col("b0"))
      .withColumn("den", lit(3.0) * col("b2") - col("b0"))
      .withColumn("cc", col("num") /
        when(col("den") =!= 0.0, col("den")).otherwise(lit(1.0)) -
        lit(PortableGamma.ln2OverLn3))
      .withColumn("k",
        lit(7.8590) * col("cc") + lit(2.9554) * col("cc") * col("cc"))
      .withColumn("gumbel", abs(col("k")) < lit(1.0e-9))
      .withColumn("gk", exp(PortableGamma.lgamma(lit(1.0) + col("k"))))
      .withColumn("kdiv",
        when(col("k") =!= 0.0, col("k")).otherwise(lit(1.0)))
      .withColumn("sigma", {
        val two2negk = exp(-col("k") * lit(PortableGamma.ln2))
        val sigDen = col("gk") * (lit(1.0) - two2negk)
        val sigDenDiv = when(sigDen =!= 0.0, sigDen).otherwise(lit(1.0))
        when(col("gumbel"), col("num") / lit(PortableGamma.ln2))
          .otherwise(col("num") * col("k") / sigDenDiv)
      })
      .withColumn("mu",
        when(col("gumbel"),
          col("b0") - lit(PortableGamma.eulerGamma) * col("sigma"))
        .otherwise(col("b0") +
          col("sigma") * (col("gk") - lit(1.0)) / col("kdiv")))
    // 30-day return level: y = −ln(1 − 1/T). The fit above is in
    // HOSKING's shape convention (k = −ξ), so the quantile form is
    // Hosking's x(F) = μ + σ(1 − y^k)/k; Gumbel limit: μ − σ·ln(y).
    // (The modern-ξ form μ + σ(y^(−ξ) − 1)/ξ with k substituted for ξ
    // flips the tail sign — the round-9 ADVICE bug.)
    val y = -log(lit(1.0) - lit(1.0) / lit(returnDays.toDouble))
    val rl = when(col("gumbel"), col("mu") - col("sigma") * log(y))
      .otherwise(col("mu") +
        col("sigma") * (lit(1.0) - exp(col("k") * log(y))) / col("kdiv"))
    val ok = col("den") =!= 0.0 && n > 2L
    staged.select(n.as("n_days"),
      r6(col("b0")).as("b0"), r6(col("b1")).as("b1"),
      r6(col("b2")).as("b2"),
      r6(when(ok, col("k")).otherwise(lit(0.0))).as("shape_k"),
      r6(when(ok, col("sigma")).otherwise(lit(0.0))).as("sigma"),
      r6(when(ok, col("mu")).otherwise(lit(0.0))).as("mu"),
      r6(when(ok, rl).otherwise(lit(0.0)))
        .as(s"return_level_$returnDays"),
      when(ok && col("gumbel"), 1).otherwise(0).cast("int")
        .as("gumbel_limit"))
  }
}

/** Literal weight/constant tables for [[InferenceAnalytics]], shared
  * verbatim between the Column expressions and the DuckDB oracle SQL
  * (the PeriodogramTables discipline). The 0.5 powers are exact binary
  * doubles, so the SQL literal round-trip is bit-identical by
  * construction. */
object ThetaTables {
  val maxPow = 64
  val pow05: Array[Double] = Array.tabulate(maxPow)(k => math.pow(0.5, k))
}

/** O'Brien–Fleming boundary literals for
  * [[InferenceAnalytics.groupSequential]]: C·√(K/k) with C the
  * two-sided 5% OBF constant C_B(K, 0.05) for K looks (Jennison &
  * Turnbull, "Group Sequential Methods", Table 2.3: K = 1…5 →
  * 1.960, 1.977, 2.004, 2.024, 2.040). Scala-computed doubles,
  * shared verbatim with the oracle. */
object ObfTables {
  val cByLooks: Map[Int, Double] =
    Map(1 -> 1.960, 2 -> 1.977, 3 -> 2.004, 4 -> 2.024, 5 -> 2.040)
  def boundary(looks: Int, k: Int): Double = {
    val c = cByLooks.getOrElse(looks, throw new IllegalArgumentException(
      s"OBF constant tabled for K in 1..5 only, got $looks"))
    c * math.sqrt(looks.toDouble / k)
  }
}

/** Portable log-gamma: the 9-term Lanczos approximation (g = 7) emitted
  * BOTH as a Column expression and as a SQL string from the same
  * coefficient literals, so Spark and DuckDB evaluate the identical
  * left-associated arithmetic — the trick that unlocks exact-Beta and
  * GEV math without any engine-specific special function. Valid for
  * z ≥ 0.5 (every caller here feeds z ≥ 1, so no reflection branch);
  * |relative error| < 1e-13 on that domain, far inside the 6dp report
  * rounding. ln/exp are the only libm calls — the survivalKm precedent. */
object PortableGamma {
  val g = 7.0
  val coefs: Array[Double] = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
  val halfLn2Pi: Double = 0.5 * math.log(2.0 * math.Pi)

  def lgamma(z: Column): Column = {
    val x = coefs.zipWithIndex.tail.foldLeft(lit(coefs(0))) {
      case (acc, (c, i)) => acc + lit(c) / (z + lit((i - 1).toDouble))
    }
    // lnΓ(z) = ½ln2π + (z−½)·ln t − t + ln A(z), t = z + g − ½ — the
    // series index c_i/(z−1+i) and the exponent shift belong to the
    // SAME convention (validated against libm lgamma to ~1e-13;
    // Round25OpsSpec pins reference values — the first cut paired the
    // shifted series with the UNSHIFTED exponent, which both engines
    // reproduced in perfect agreement while being wrong by ~e^1.2)
    lit(halfLn2Pi) + (z - lit(0.5)) * log(z + lit(g - 0.5)) -
      (z + lit(g - 0.5)) + log(x)
  }

  /** The SAME formula over a SQL expression string — caller must pass
    * the identical value the Column side sees. */
  def lgammaSql(z: String): String = {
    val x = coefs.zipWithIndex.tail.foldLeft(s"${coefs(0)}") {
      case (acc, (c, i)) => s"$acc + $c / (($z) + ${(i - 1).toDouble})"
    }
    s"($halfLn2Pi + (($z) - 0.5) * ln(($z) + ${g - 0.5})" +
      s" - (($z) + ${g - 0.5}) + ln($x))"
  }

  /** ln Beta(x, y) on both sides. */
  def lbeta(x: Column, y: Column): Column =
    lgamma(x) + lgamma(y) - lgamma(x + y)
  def lbetaSql(x: String, y: String): String =
    s"(${lgammaSql(x)} + ${lgammaSql(y)} - ${lgammaSql(s"($x) + ($y)")})"

  /** ln C(n, k) on both sides — callers pass DOUBLE expressions with
    * n ≥ k ≥ 0, so every lgamma argument is ≥ 1. */
  def lchoose(n: Column, k: Column): Column =
    lgamma(n + lit(1.0)) - lgamma(k + lit(1.0)) -
      lgamma(n - k + lit(1.0))
  def lchooseSql(n: String, k: String): String =
    s"(${lgammaSql(s"($n) + 1.0")} - ${lgammaSql(s"($k) + 1.0")}" +
      s" - ${lgammaSql(s"($n) - ($k) + 1.0")})"

  /** ln 10 — the enrichment report's −log₁₀ conversion constant. */
  val ln10: Double = math.log(10.0)

  /** Constants the GEV/Gumbel arms share with their oracles. */
  val ln2: Double = math.log(2.0)
  val ln2OverLn3: Double = math.log(2.0) / math.log(3.0)
  val eulerGamma: Double = 0.5772156649015329
}
