package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.functions.CleanFns.r6

/** StatsAnalytics, part 4 of 4: rank correlations, distribution tests
  * and tail fits - orderBreadth memo .. ebShrinkage. */
private[analytics] trait StatsTests {
  this: StatsAnalytics.type =>
  private[graft] def orderBreadthAt(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame =
    graft.Shared(spark, s"orderBreadth@$sfDir")(
      orderBreadthFrame(graft.Tables.orders(spark, sfDir),
        graft.Tables.lineitem(spark, sfDir)).localCheckpoint())

  /** [[spearmanBreadth]] / [[kendallTau]] on the memoized fixture frame. */
  def spearmanBreadthAt(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): DataFrame =
    spearmanOnPairs(orderBreadthAt(spark, sfDir))

  def kendallTauAt(spark: org.apache.spark.sql.SparkSession,
                   sfDir: String): DataFrame =
    kendallOnPairs(orderBreadthAt(spark, sfDir))

  /** Shared unit frame for the rank-correlation family: per customer,
    * x = order count, y = distinct-part breadth. */
  private[analytics] def orderBreadthFrame(orders: DataFrame,
                                lineitem: DataFrame): DataFrame = {
    val nOrd = orders.groupBy(col("o_custkey").as("cust"))
      .agg(count(lit(1)).as("x"))
    val nParts = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"))
      .agg(countDistinct(col("l_partkey")).as("y"))
    nOrd.join(nParts, Seq("cust"))
  }

  /** Kendall τ-b over the same (order count, part breadth) pairs as
    * [[spearmanBreadth]] — the concordance-based rank correlation whose
    * sampling behavior under ties is better understood than Spearman's.
    * The O(n²) pair enumeration NEVER touches units: both variables are
    * small integers, so all pair counting runs on the JOINT VALUE CENSUS
    * (one row per distinct (x,y) cell — domain-bounded): concordant /
    * discordant masses are Σ n₁·n₂ over cell pairs with strict agreement
    * / reversal, a broadcast nested-loop join of the census with itself
    * (cells² comparisons is a CONSTANT wrt corpus size — the 100 TB cost
    * lives entirely in the one aggregate that builds the census). Tie
    * terms come from the marginal censuses in exact integers; products
    * go DECIMAL before the sum. */
  def kendallTau(orders: DataFrame, lineitem: DataFrame): DataFrame =
    kendallOnPairs(orderBreadthFrame(orders, lineitem))

  private[graft] def kendallOnPairs(pc: DataFrame): DataFrame = {
    val cells = pc
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nc"))
      .pinned()
    val c2 = cells.select(col("x").as("x2"), col("y").as("y2"),
      col("nc").as("nc2"))
    val pairs = cells.join(broadcast(c2),
        col("x") < col("x2") && col("y") =!= col("y2"))
      .select((col("nc") * col("nc2")).cast("decimal(38,0)").as("m"),
        (col("y") < col("y2")).as("conc"))
    val cd = pairs.agg(
      sum(when(col("conc"), col("m")).otherwise(lit(0))).as("nc_sum"),
      sum(when(!col("conc"), col("m")).otherwise(lit(0))).as("nd_sum"))
    def ties(key: String) = cells.groupBy(col(key))
      .agg(sum(col("nc")).as("t"))
      .agg(sum((col("t") * (col("t") - 1) / 2).cast("decimal(38,0)"))
        .as(s"t_$key"),
        sum(col("t")).as(s"n_$key"))
    def d(c: Column) = c.cast("double")
    cd.crossJoin(broadcast(ties("x"))).crossJoin(broadcast(ties("y")))
      .select(col("n_x").as("n_customers"),
        col("nc_sum").cast("bigint").as("n_concordant"),
        col("nd_sum").cast("bigint").as("n_discordant"),
        col("t_x").cast("bigint").as("ties_x"),
        col("t_y").cast("bigint").as("ties_y"),
        r6((d(col("nc_sum")) - d(col("nd_sum"))) /
          sqrt((d(col("n_x")) * (d(col("n_x")) - lit(1.0)) / lit(2.0) -
            d(col("t_x"))) *
            (d(col("n_x")) * (d(col("n_x")) - lit(1.0)) / lit(2.0) -
              d(col("t_y"))))).as("tau_b"))
  }

  /** Theil T inequality index of customer spend, decomposed by market
    * segment — the additive complement to [[giniBySegment]]: unlike
    * Gini, Theil splits EXACTLY into between-segment and within-segment
    * components (T = T_between + Σ share_g·T_g), so the report says how
    * much of total spend concentration is segment mix vs within-segment
    * dispersion. Everything reduces to three per-segment sums (n, Σx,
    * Σx·ln x — the x·ln x terms go double → DECIMAL so partials merge
    * order-independently): T_g = Σx ln x / X_g − ln μ_g, no window, no
    * second pass over customers. Output is the per-segment 'within'
    * rows plus 'between' and 'total' decomposition rows. */
  def theilIndex(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(28,12)"))
        .cast("double").as("s"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    // materialized: three consumers (within/between/total) must not
    // re-run the customer aggregate
    val seg = spend.groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("s").cast("decimal(28,12)")).as("sx"),
        sum((col("s") * log(col("s"))).cast("decimal(28,12)")).as("sxlnx"))
      .pinned()
    def d(c: Column) = c.cast("double")
    val glob = seg.agg(sum(col("n")).as("n_all"),
      sum(col("sx")).as("x_all"), sum(col("sxlnx")).as("xlnx_all"))
    val j = seg.crossJoin(broadcast(glob))
    val muG = d(col("sx")) / d(col("n"))
    val mu = d(col("x_all")) / d(col("n_all"))
    val share = d(col("sx")) / d(col("x_all"))
    val within = j.select(lit("within").as("component"), col("segment"),
      col("n").as("n_customers"), r6(share).as("spend_share"),
      r6(d(col("sxlnx")) / d(col("sx")) - log(muG)).as("theil"))
    val between = j
      .select((share * log(muG / mu)).cast("decimal(28,12)").as("term"),
        col("n"))
      .agg(sum(col("n")).as("n_customers"),
        sum(col("term")).cast("double").as("tb"))
      .select(lit("between").as("component"), lit("__ALL__").as("segment"),
        col("n_customers"), r6(lit(1.0)).as("spend_share"),
        r6(col("tb")).as("theil"))
    val total = glob.select(lit("total").as("component"),
      lit("__ALL__").as("segment"), col("n_all").as("n_customers"),
      r6(lit(1.0)).as("spend_share"),
      r6(d(col("xlnx_all")) / d(col("x_all")) -
        log(d(col("x_all")) / d(col("n_all")))).as("theil"))
    within.unionAll(between).unionAll(total)
      .orderBy(col("component"), col("segment"))
  }

  /** Wald–Wolfowitz runs test on the daily-revenue series — the
    * randomness audit under [[cusum]] and [[changepoint]]: if the signs
    * of daily revenue around its median cluster into fewer runs than
    * chance allows, the series has serial structure (trend, regime,
    * weekly cycle) and every i.i.d.-assuming monitor upstream is
    * miscalibrated. The series is the DAY frame (one corpus aggregate;
    * day-ordered windows are calendar-bounded), the median is the exact
    * interpolated 0.5-quantile of ≤ a few thousand day values, ties at
    * the median drop (the standard convention), and runs count via one
    * lag over the day frame. Normal approximation mean/sigma/z from the
    * exact integer run and sign counts. */
  def runsTest(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(28,12)")).cast("double").as("v"))
      .pinned() // reused by the median scalar and the sign pass
    val med = daily.agg(
      expr("percentile(v, 0.5)").as("med"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("v") =!= col("med"))
      .select(col("d"), (col("v") > col("med")).cast("int").as("s"))
    val w = Window.orderBy(col("d"))
    val runs = signed
      .withColumn("brk",
        when(lag(col("s"), 1).over(w).isNull ||
          lag(col("s"), 1).over(w) =!= col("s"), 1).otherwise(0))
    val m = runs.agg(count(lit(1)).as("n_days"),
      sum(col("s").cast("long")).as("n_above"),
      sum((lit(1) - col("s")).cast("long")).as("n_below"),
      sum(col("brk").cast("long")).as("n_runs"))
    def d(c: Column) = c.cast("double")
    val n1 = d(col("n_above")); val n2 = d(col("n_below"))
    val n = n1 + n2
    val mu = lit(2.0) * n1 * n2 / n + lit(1.0)
    val sigma = sqrt(lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n) /
      (n * n * (n - lit(1.0))))
    m.select(col("n_days"), col("n_above"), col("n_below"), col("n_runs"),
      r6(mu).as("mu_runs"), r6(sigma).as("sigma_runs"),
      // degenerate series (a single day per sign) has sigma = 0 —
      // report z = 0 rather than divide
      r6(when(sigma > lit(0.0),
        (d(col("n_runs")) - mu) / sigma).otherwise(lit(0.0))).as("z"))
  }

  /** Rescaled-range (R/S) Hurst exponent of the daily-revenue series —
    * the long-memory audit beside [[runsTest]]'s serial-structure check:
    * H ≈ 0.5 is a memoryless walk, H > 0.5 persistent trending, H < 0.5
    * mean reversion — the one-number answer to "does today's revenue
    * anomaly predict tomorrow's". Classic Mandelbrot–Wallis R/S: for
    * each window size w, split the day series into ⌊n/w⌋ complete
    * blocks; per block, range of the cumulative mean-deviations over
    * the population σ; H is the least-squares slope of ln(R/S) on ln(w).
    * Everything after the one corpus aggregate runs on the DAY frame ×
    * 3 window sizes (calendar-bounded; the cumulative-deviation window
    * partitions by (w, block)); per-day deviation sums go DECIMAL. */
  def hurstRS(ev: DataFrame, sizes: Seq[Int] = Seq(5, 10, 15)): DataFrame = {
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(28,12)")).cast("double").as("v"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
      .pinned() // the size fan-out and n_days both reuse it
    val ws = daily.sparkSession.createDataFrame(
      sizes.map(Tuple1(_))).toDF("w")
    val blocked = daily.crossJoin(broadcast(ws))
      .withColumn("b", ((col("t") - 1) / col("w")).cast("long"))
    val full = blocked.groupBy(col("w"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === col("w"))
      .select(col("w"), col("b"))
    val rows = blocked.join(full, Seq("w", "b"))
    val m = rows.groupBy(col("w"), col("b"))
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
        col("w")).as("mean_v"),
        (sum((col("v") * col("v")).cast("decimal(28,12)")).cast("double"))
          .as("svv"))
    val wcum = Window.partitionBy(col("w"), col("b")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dev = rows.join(m, Seq("w", "b"))
      .withColumn("cum", sum((col("v") - col("mean_v"))
        .cast("decimal(28,12)")).over(wcum).cast("double"))
    val rs = dev.groupBy(col("w"), col("b"))
      .agg((max(col("cum")) - min(col("cum"))).as("r"),
        // svv/mean_v are group constants (joined from m) — max is the
        // deterministic pick
        sqrt(max(col("svv")) / col("w") -
          max(col("mean_v")) * max(col("mean_v"))).as("s"))
      .filter(col("s") > 0.0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_blocks"),
        (sum((col("r") / col("s")).cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("rs"))
    // least-squares slope of ln(rs) on ln(w) over the (tiny) size frame
    def dec(c: Column) = c.cast("decimal(28,12)")
    val fit = rs.select(col("w"), col("rs"),
        log(col("w").cast("double")).as("lx"), log(col("rs")).as("ly"))
      .agg(count(lit(1)).as("k"),
        sum(dec(col("lx"))).cast("double").as("sx"),
        sum(dec(col("ly"))).cast("double").as("sy"),
        sum(dec(col("lx") * col("lx"))).cast("double").as("sxx"),
        sum(dec(col("lx") * col("ly"))).cast("double").as("sxy"))
    def d(c: Column) = c.cast("double")
    val n = daily.agg(count(lit(1)).as("n_days"))
    def rsAt(w: Int) = max(when(col("w") === w, col("rs")))
    val wide = rs.agg(rsAt(sizes(0)).as("rs_a"), rsAt(sizes(1)).as("rs_b"),
      rsAt(sizes(2)).as("rs_c"))
    n.crossJoin(broadcast(wide)).crossJoin(broadcast(fit))
      .select(col("n_days"),
        r6(col("rs_a")).as(s"rs_${sizes(0)}"),
        r6(col("rs_b")).as(s"rs_${sizes(1)}"),
        r6(col("rs_c")).as(s"rs_${sizes(2)}"),
        r6((d(col("k")) * col("sxy") - col("sx") * col("sy")) /
          (d(col("k")) * col("sxx") - col("sx") * col("sx")))
          .as("hurst"))
  }

  /** SAX symbolization of the daily-revenue series (Lin et al.):
    * z-normalize the day series, Piecewise-Aggregate-Approximate it into
    * `segDays`-day segments, and map each segment mean to a 4-letter
    * alphabet at the standard normal quartile breakpoints ±0.674490 —
    * the discretized fingerprint that makes time-series motif/anomaly
    * matching a string problem. Everything after the one corpus
    * aggregate runs on the day frame (the index window is
    * calendar-bounded); μ/σ broadcast back; PAA means sum in DECIMAL.
    * Breakpoints are literal constants, so the output schema and symbol
    * mapping are data-independent. */
  def saxDaily(ev: DataFrame, segDays: Int = 5): DataFrame = {
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(28,12)")).cast("double").as("v"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
      .pinned() // μ/σ scalar and the z projection both reuse it
    def dec(c: Column) = c.cast("decimal(28,12)")
    val m = daily.agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("sv"),
      sum(dec(col("v") * col("v"))).as("svv"))
    def d(c: Column) = c.cast("double")
    val mu = d(col("sv")) / d(col("n"))
    val sigma = sqrt(d(col("svv")) / d(col("n")) - mu * mu)
    val z = daily.crossJoin(broadcast(
        m.select(mu.as("mu"), sigma.as("sigma"))))
      .select((((col("t") - 1) / segDays).cast("long")).as("segment"),
        when(col("sigma") > 0.0, (col("v") - col("mu")) / col("sigma"))
          .otherwise(lit(0.0)).as("z"))
    val bp = 0.6744897501960817
    z.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_days"),
        (sum(dec(col("z"))).cast("double") / count(lit(1))).as("paa_raw"))
      .select(col("segment"), col("n_days"), r6(col("paa_raw")).as("paa"),
        when(col("paa_raw") < -bp, "a")
          .when(col("paa_raw") < 0.0, "b")
          .when(col("paa_raw") < bp, "c")
          .otherwise("d").as("symbol"))
      .orderBy("segment")
  }

  /** Cramér's V association between event type and day-of-week — the
    * effect-SIZE companion to the χ² machinery [[mutualInfo]] and the
    * CMH test read in bits and evidence: V normalizes χ² to [0,1] so
    * "is the weekly mix shift big enough to matter" has a scale-free
    * answer. One corpus aggregate to the (type × weekday) contingency
    * cells; margins join back onto the cell frame (broadcast — both are
    * category-bounded); χ² terms go double → DECIMAL for
    * order-independent merge. Cells with zero observations never
    * materialize, but their χ² contribution is exactly their expected
    * count, and Σ_all e = N — so the absent mass folds in closed form
    * as N − Σ_observed e (the [[tCloseness]] absent-cell trick): only
    * existing cells are ever touched. */
  def cramersV(ev: DataFrame): DataFrame = {
    val cells = ev.filter(col("event_type").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("o"))
      .pinned() // four consumers; never re-run the corpus pass
    val rowTot = cells.groupBy("event_type").agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy("dow").agg(sum(col("o")).as("ct"))
    val glob = cells.agg(sum(col("o")).as("n_all"),
      countDistinct(col("event_type")).as("k"),
      countDistinct(col("dow")).as("r"))
    def d(c: Column) = c.cast("double")
    val e = d(col("rt")) * d(col("ct")) / d(col("n_all"))
    val m = cells.join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("dow"))
      .crossJoin(broadcast(glob))
      .select(((d(col("o")) - e) * (d(col("o")) - e) / e)
        .cast("decimal(28,12)").as("term"),
        e.cast("decimal(28,12)").as("e"),
        col("n_all"), col("k"), col("r"))
      .groupBy(col("n_all"), col("k"), col("r"))
      .agg((sum(col("term")).cast("double") +
        (d(col("n_all")) - sum(col("e")).cast("double"))).as("chi2"))
    m.select(col("n_all").as("n"), col("k").as("n_types"),
      col("r").as("n_dows"), r6(col("chi2")).as("chi2"),
      r6(sqrt(col("chi2") / (d(col("n_all")) *
        least(d(col("k")) - lit(1.0), d(col("r")) - lit(1.0)))))
        .as("cramers_v"))
  }

  /** Cross-correlation function between daily revenue and daily event
    * volume at lags −maxLag..maxLag — the lead/lag probe [[acfDaily]]
    * cannot answer (does activity LEAD spend, or trail it?). Standard
    * CCF normalization: r_k = Σ_t (x_t−x̄)(y_{t+k}−ȳ) / √(Σ(x−x̄)²·
    * Σ(y−ȳ)²) with full-series denominators, so |r_k| ≤ 1 and lags are
    * comparable. Both series come out of ONE corpus aggregate (revenue
    * and count are two measures of the same day group); everything after
    * is |days|-sized — the lag joins are window `lag/lead` over the day
    * frame, never a self-join of raw rows. Moment sums accumulate in
    * DECIMAL (order-independent merge → oracle parity at any partition
    * count); the final ratio is one IEEE division, rounded to 6dp. */
  def ccfDaily(ev: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily = ev.filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(coalesce(col("value"), lit(0.0))
          .cast("decimal(18,6)")), 2).cast("double").as("x"),
        count(lit(1)).cast("double").as("y"))
      .pinned() // one corpus pass feeds stats + every lag arm
    val stats = daily.agg(count(lit(1)).as("n"),
        (sum(col("x").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("mx"),
        (sum(col("y").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("my"))
    val c = daily.crossJoin(broadcast(stats))
      .select(col("d"), (col("x") - col("mx")).as("cx"),
        (col("y") - col("my")).as("cy"))
    val w = Window.orderBy("d")
    // All 2·maxLag+1 arms fold in ONE window pass + ONE aggregate (the
    // previous per-lag union re-ran the day window and a global agg 15
    // times). k>0 → y shifted forward (lead), k<0 → explicit lag keeps
    // the offset non-negative for engines that reject negative lead
    // offsets — the oracle mirrors. sum() skips null products exactly
    // where the old per-arm filter(yk IS NOT NULL) dropped rows and
    // count(yk_k) counts the same non-null pairs, so every (num,
    // n_pairs, den) is bit-equal; den folds over the SAME frame (the
    // added lag columns never drop rows).
    def nm(k: Int) = if (k < 0) s"m${-k}" else s"p$k"
    val ykCols = (-maxLag to maxLag).map { k =>
      val yk = if (k >= 0) lead(col("cy"), k) else lag(col("cy"), -k)
      s"yk_${nm(k)}" -> yk.over(w)
    }.toMap
    val folds = c.withColumns(ykCols)
      .agg(sqrt(sum((col("cx") * col("cx")).cast("decimal(28,10)"))
            .cast("double") *
          sum((col("cy") * col("cy")).cast("decimal(28,10)"))
            .cast("double")).as("den"),
        (-maxLag to maxLag).flatMap(k => Seq(
          sum((col("cx") * col(s"yk_${nm(k)}")).cast("decimal(28,10)"))
            .cast("double").as(s"num_${nm(k)}"),
          count(col(s"yk_${nm(k)}")).as(s"np_${nm(k)}"))): _*)
    folds
      .select(col("den"), explode(array((-maxLag to maxLag).map(k =>
        struct(lit(k.toLong).as("lag"),
          col(s"np_${nm(k)}").as("n_pairs"),
          col(s"num_${nm(k)}").as("num"))): _*)).as("r"))
      .select(col("r.lag").as("lag"), col("r.n_pairs").as("n_pairs"),
        r6(col("r.num") / col("den")).as("ccf"))
      .orderBy("lag")
  }

  /** Drawdown report over the DAILY revenue series (depth below the
    * running record, not below cumulative — cumulative revenue is
    * monotone, so its drawdown is identically zero): running peak via
    * an expanding `max` window, per-day drawdown = peak − x, and the
    * longest underwater streak by the gaps-and-islands rank difference
    * (rn_all − rn_underwater is constant within a maximal run). The
    * whole computation lives on the |days| frame after one corpus
    * aggregate; every window is ORDER BY over that bounded frame.
    * max_dd_pct guards peak=0 (first day defines the record, dd=0). */
  def drawdownReport(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
    val w = Window.orderBy("d")
    val dd = daily
      .withColumn("peak", max(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dd", col("peak") - col("x"))
      .withColumn("rn", row_number().over(w))
      .pinned() // |days| rows; three scalar consumers below
    val uw = dd.filter(col("dd") > 0.0)
      .withColumn("grp", col("rn") - row_number().over(Window.orderBy("rn")))
      .groupBy("grp").agg(count(lit(1)).as("len"))
      .agg(coalesce(max(col("len")), lit(0L)).as("max_underwater_days"))
    val worst = dd
      .agg(count(lit(1)).as("n_days"),
        round(max(col("dd")), 2).as("max_drawdown"),
        max_by(struct(col("dd"), col("peak")),
          struct(col("dd"), col("rn"))).as("m"))
      .select(col("n_days"), col("max_drawdown"),
        r6(when(col("m.peak") > 0.0, col("m.dd") / col("m.peak"))
          .otherwise(lit(0.0))).as("max_dd_pct"))
    worst.crossJoin(broadcast(uw))
  }

  /** Mixture sequential probability ratio test (mSPRT) — the
    * always-valid p-value stream that makes DAILY peeking at the
    * [[abLift]] experiment legitimate (a fixed-horizon z re-tested every
    * day inflates false positives; the mSPRT martingale does not). Same
    * portable-hash variant split and high-value-purchase conversion as
    * abLift; per (day × variant) the user/conversion counts are exact
    * integers, cumulated by window sums over the day frame. With normal
    * mixture variance τ: Λ_n = √(σ²ₙ/(σ²ₙ+τ))·exp(θ̂ₙ²τ/(2σ²ₙ(σ²ₙ+τ)))
    * where θ̂ₙ = p̂_b−p̂_a and σ²ₙ the pooled two-proportion variance;
    * the always-valid p is the RUNNING MIN of 1/Λ (a supermartingale
    * inverse stays valid under optional stopping). `reject` compares the
    * ROUNDED p to α so a last-ulp exp() disagreement between engines
    * cannot flip the flag (the q_jaro_linkage lesson). Shape: one
    * per-(user,day) corpus pass, then |days|-frame windows — nothing
    * data-sized after the first shuffle. */
  def msprt(ev: DataFrame, tau: Double = 0.0001,
            minValue: Double = 90.0, alpha: Double = 0.05): DataFrame = {
    val perUserDay = ev.filter(col("user_id").isNotNull &&
        col("ts").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > minValue, 1L).otherwise(0L)).as("conv"))
      .withColumn("variant", Sampling.hashBucket(col("user_id"), 2))
    val byDay = perUserDay.groupBy("d").agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ua"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("ca"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("ub"),
      sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("cb"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d(c: Column) = c.cast("double")
    val cum = byDay
      .withColumn("na", sum(col("ua")).over(w))
      .withColumn("ka", sum(col("ca")).over(w))
      .withColumn("nb", sum(col("ub")).over(w))
      .withColumn("kb", sum(col("cb")).over(w))
    val bothArms = col("na") > 0L && col("nb") > 0L
    val theta = when(bothArms,
      d(col("kb")) / d(col("nb")) - d(col("ka")) / d(col("na")))
      .otherwise(lit(0.0))
    val pool = (d(col("ka")) + d(col("kb"))) / (d(col("na")) + d(col("nb")))
    val sig2 = pool * (lit(1.0) - pool) *
      (lit(1.0) / d(col("na")) + lit(1.0) / d(col("nb")))
    // Degenerate early frames (a variant unpopulated, or zero pooled
    // variance before the first conversion) carry no evidence: Λ = 1.
    val lam = when(bothArms && sig2 > 0.0,
      sqrt(sig2 / (sig2 + lit(tau))) *
        exp(theta * theta * lit(tau) /
          (lit(2.0) * sig2 * (sig2 + lit(tau)))))
      .otherwise(lit(1.0))
    val scored = cum
      .withColumn("lambda", lam)
      .withColumn("p_av", r6(least(lit(1.0),
        min(lit(1.0) / col("lambda")).over(w))))
    scored.select(col("d"), col("na").as("users_a"), col("ka").as("conv_a"),
        col("nb").as("users_b"), col("kb").as("conv_b"),
        r6(theta).as("theta"), r6(col("lambda")).as("lambda"),
        col("p_av").as("p_always_valid"),
        (col("p_av") <= alpha).cast("int").as("reject"))
      .orderBy("d")
  }

  /** Equal-weight forecast-combination arm over the three established
    * backtests — naive lag-1, seasonal lag-7, and the trailing-7 moving
    * average — evaluated on the COMMON day set (t ≥ 8, where every arm
    * has a forecast) so the comparison is honest: [[forecastEval]] and
    * the snaive arm score on their own maximal windows, which are not
    * the same days. The combination forecast is the plain mean of the
    * three member forecasts (the hardest-to-beat baseline in the
    * forecast-combination literature — "forecast combination puzzle").
    * One corpus pass to the day frame; every arm is a window expression
    * over it; error sums fold through DECIMAL. */
  def forecastCombo(ev: DataFrame): DataFrame = {
    val daily = ev.filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value").cast("decimal(18,6)")), 2)
        .cast("double").as("x"))
      .withColumn("t", row_number().over(Window.orderBy("d")))
    val w = Window.orderBy("t")
    val ma7 = (1 to 7).map(k => lag(col("x"), k).over(w))
      .reduce(_ + _) / lit(7.0)
    val base = daily
      .withColumn("fc_naive", lag(col("x"), 1).over(w))
      .withColumn("fc_snaive", lag(col("x"), 7).over(w))
      .withColumn("fc_ma7", ma7)
      .filter(col("t") >= 8)
      .withColumn("fc_combo",
        (col("fc_naive") + col("fc_snaive") + col("fc_ma7")) / lit(3.0))
      .pinned() // |days| rows; four scoring consumers
    def report(fcCol: String, name: String): DataFrame = {
      val err = col("x") - col(fcCol)
      base.agg(count(lit(1)).as("n_days"),
          sum(abs(err).cast("decimal(28,10)")).cast("double").as("sae"),
          sum((err * err).cast("decimal(28,10)")).cast("double").as("sse"))
        .select(lit(name).as("model"), col("n_days"),
          r6(col("sae") / col("n_days").cast("double")).as("mae"),
          r6(sqrt(col("sse") / col("n_days").cast("double"))).as("rmse"))
    }
    report("fc_naive", "naive").unionAll(report("fc_snaive", "snaive"))
      .unionAll(report("fc_ma7", "ma7"))
      .unionAll(report("fc_combo", "combo"))
      .orderBy("model")
  }

  /** Weight-of-evidence / information-value screen — the classical
    * credit-scoring featurizer: per feature bin, WoE = ln of the
    * smoothed good/bad density ratio, and the feature's IV = Σ (g% −
    * b%)·WoE says whether the feature separates the target at all
    * (IV < 0.02 = useless, > 0.5 = suspicious). Target: customer ever
    * placed a 1-URGENT order; features: market segment and a fixed-width
    * account-balance band (map-side projection — no quantile pass, no
    * global window). Empty-cell guard is the standard +0.5 Laplace
    * numerator. Shape: one orders aggregate (shuffle on custkey), one
    * dim-sized join, one bin census; totals broadcast back; the
    * per-feature IV folds over the category-bounded bin frame. */
  def woeIv(customer: DataFrame, orders: DataFrame): DataFrame = {
    val target = orders.groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("y"))
    val base = customer.join(target, Seq("c_custkey"), "left")
      .select(col("c_mktsegment"), col("c_acctbal"),
        coalesce(col("y"), lit(0L)).as("y"))
    // NULL bins fold to a sentinel string: Spark sorts NULLS FIRST where
    // DuckDB defaults NULLS LAST, so a raw NULL bin would break row-order
    // parity on nullable data; the sentinel keeps ordering engine-neutral.
    // The sentinel is \u0001-prefixed so it cannot collide with a genuine
    // domain value that is literally the string "NULL" (which would
    // silently merge two distinct bins); the oracle builds the same token
    // with chr(1) || 'NULL'.
    val nullBin = lit("\u0001NULL")
    val feats = base.select(lit("mktsegment").as("feature"),
        coalesce(col("c_mktsegment"), nullBin).as("bin"), col("y"))
      .unionAll(base.select(lit("acctbal_band").as("feature"),
        coalesce(floor(col("c_acctbal") / 2000.0).cast("bigint")
          .cast("string"), nullBin).as("bin"), col("y")))
    val cells = feats.groupBy("feature", "bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("goods"))
      .withColumn("bads", col("n") - col("goods"))
    val tot = cells.groupBy("feature")
      .agg(sum(col("goods")).as("g_tot"), sum(col("bads")).as("b_tot"))
    def d(c: Column) = c.cast("double")
    val woe = log(((d(col("goods")) + lit(0.5)) / d(col("g_tot"))) /
      ((d(col("bads")) + lit(0.5)) / d(col("b_tot"))))
    val ivTerm = (d(col("goods")) / d(col("g_tot")) -
      d(col("bads")) / d(col("b_tot"))) * woe
    val scored = cells.join(broadcast(tot), Seq("feature"))
      .withColumn("woe_raw", woe)
      .withColumn("iv_term", ivTerm.cast("decimal(28,12)"))
    val w = Window.partitionBy("feature")
    scored.select(col("feature"), col("bin"), col("n"), col("goods"),
        col("bads"), r6(col("woe_raw")).as("woe"),
        r6(sum(col("iv_term")).over(w).cast("double")).as("iv_feature"))
      .orderBy("feature", "bin")
  }

  /** Stratified inverse-propensity-weighted average treatment effect
    * (Hájek estimator) — the causal contrast the naive treated-vs-
    * control mean difference gets wrong whenever treatment assignment
    * correlates with the strata (here: order priority vs market
    * segment). Propensity per stratum is the exact treated share (no
    * model — this is the coarsened-exact-matching limit); weights 1/e
    * and 1/(1−e) re-balance each stratum to the full population;
    * strata with degenerate propensity (e ∈ {0,1}) are excluded — the
    * positivity violation has no defined counterfactual. Per-term
    * weighted sums fold double products through DECIMAL so the
    * estimate is partition-order-independent. Shape: one dim join, one
    * stratum census (broadcast back), one scalar aggregate. */
  def ipwAte(orders: DataFrame, customer: DataFrame): DataFrame = {
    val units = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      .select(col("c_mktsegment").as("stratum"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0).as("t"),
        col("o_totalprice").cast("double").as("y"))
    val strata = units.groupBy("stratum")
      .agg(count(lit(1)).as("n_s"), sum(col("t")).as("nt_s"))
      .withColumn("e", col("nt_s").cast("double") / col("n_s"))
      .filter(col("e") > 0.0 && col("e") < 1.0)
    def dec(c: Column) = c.cast("decimal(28,10)")
    val wt = units.join(broadcast(strata.select("stratum", "e")),
      Seq("stratum"))
    val agg = wt.agg(count(lit(1)).as("n_units"),
      sum(col("t").cast("bigint")).as("n_treated"),
      sum(dec(col("t") * col("y") / col("e"))).cast("double").as("swy_t"),
      sum(dec(col("t") / col("e"))).cast("double").as("sw_t"),
      sum(dec((lit(1) - col("t")) * col("y") / (lit(1.0) - col("e"))))
        .cast("double").as("swy_c"),
      sum(dec((lit(1) - col("t")) / (lit(1.0) - col("e"))))
        .cast("double").as("sw_c"),
      sum(dec(when(col("t") === 1, col("y")).otherwise(lit(0.0))))
        .cast("double").as("sy_t"),
      sum(dec(when(col("t") === 0, col("y")).otherwise(lit(0.0))))
        .cast("double").as("sy_c"))
    agg.select(col("n_units"), col("n_treated"),
      r6(col("sy_t") / col("n_treated").cast("double") -
        col("sy_c") / (col("n_units") - col("n_treated")).cast("double"))
        .as("naive_diff"),
      r6(col("swy_t") / col("sw_t") - col("swy_c") / col("sw_c"))
        .as("ate_ipw"))
  }

  /** Ridge regression in correlation space — the L2-regularized sibling
    * of [[linreg]], solved closed-form for two standardized features
    * (order line count, total quantity → order value): b₁(λ) =
    * ((1+λ)r₁y − r₁₂r₂y)/((1+λ)² − r₁₂²), symmetric for b₂. Working in
    * correlation space makes λ scale-free (the textbook standardized
    * ridge) and the whole solve a scalar projection over ONE moment
    * aggregate — nine DECIMAL sums, no iteration, no matrix library.
    * The λ grid is a fixed literal; shrinkage is monotone in λ, which
    * the spec pins. At 100 TB: one lineitem shuffle on orderkey, one
    * fact join, one scalar fold. */
  def ridgeCorr(orders: DataFrame, lineitem: DataFrame,
                lambdas: Seq[Double] = Seq(0.0, 0.1, 1.0)): DataFrame = {
    val perOrder = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("double").as("x1"),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
          .as("x2"))
    val units = perOrder.join(orders,
        perOrder("l_orderkey") === orders("o_orderkey"))
      .select(col("x1"), col("x2"), col("o_totalprice").cast("double")
        .as("y"))
    def dec(c: Column) = c.cast("decimal(28,8)")
    val m = units.agg(count(lit(1)).as("n"),
      sum(dec(col("x1"))).cast("double").as("s1"),
      sum(dec(col("x2"))).cast("double").as("s2"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum(dec(col("x1") * col("x1"))).cast("double").as("s11"),
      sum(dec(col("x2") * col("x2"))).cast("double").as("s22"),
      sum(dec(col("y") * col("y"))).cast("double").as("syy"),
      sum(dec(col("x1") * col("x2"))).cast("double").as("s12"),
      sum(dec(col("x1") * col("y"))).cast("double").as("s1y"),
      sum(dec(col("x2") * col("y"))).cast("double").as("s2y"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n"))
    def corr(sab: Column, sa: Column, sb: Column,
             saa: Column, sbb: Column): Column =
      (n * sab - sa * sb) /
        sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    val base = m
      .withColumn("r12", corr(col("s12"), col("s1"), col("s2"),
        col("s11"), col("s22")))
      .withColumn("r1y", corr(col("s1y"), col("s1"), col("sy"),
        col("s11"), col("syy")))
      .withColumn("r2y", corr(col("s2y"), col("s2"), col("sy"),
        col("s22"), col("syy")))
    lambdas.map { lam =>
      val opl = lit(1.0 + lam)
      val det = opl * opl - col("r12") * col("r12")
      base.select(lit(lam).as("lambda"), col("n"),
        r6(col("r12")).as("r12"),
        r6((opl * col("r1y") - col("r12") * col("r2y")) / det)
          .as("beta1_std"),
        r6((opl * col("r2y") - col("r12") * col("r1y")) / det)
          .as("beta2_std"))
    }.reduce(_.unionAll(_)).orderBy("lambda")
  }

  /** Hill tail-index estimator (Hill 1975) over the order-value
    * distribution — the heavy-tail diagnostic behind capacity planning
    * and VaR model choice: over the k largest values,
    * H = (1/k)·Σ ln x₍ᵢ₎ − ln x₍ₖ₊₁₎ and α̂ = 1/H; α̂ ≲ 2 means infinite
    * variance (plan for whales), large α̂ means the tail is
    * exponential-ish. Σ over the k+1 frame minus one boundary term, so
    * ties at the boundary cannot change the value multiset.
    *
    * Scale shape: the k+1 largest values come from TakeOrderedAndProject
    * (bounded heap per partition, never a global sort); all arithmetic
    * runs on that k+1-row frame with DECIMAL-folded log terms. */
  def hillTail(orders: DataFrame, k: Int = 100): DataFrame = {
    val top = orders.select(col("o_totalprice").cast("double").as("x"))
      .orderBy(col("x").desc).limit(k + 1)
    top.agg(sum(log(col("x")).cast("decimal(28,12)")).cast("double")
          .as("s"),
        min(col("x")).as("xb"))
      .select(lit(k.toLong).as("k"),
        round(col("xb"), 2).as("x_boundary"),
        r6((col("s") - log(col("xb"))) / lit(k.toDouble) - log(col("xb")))
          .as("hill_h"),
        r6(lit(1.0) / ((col("s") - log(col("xb"))) / lit(k.toDouble) -
          log(col("xb")))).as("tail_alpha"))
  }

  /** Generalized-Pareto tail fit over peaks-over-threshold excesses via
    * probability-weighted moments (Hosking & Wallis 1987) — the
    * two-parameter companion to [[hillTail]]'s single index: threshold
    * u = the (k+1)-th largest order price, excesses y = x − u over the
    * whole top-(k+1) frame (boundary ties contribute zero excesses — a
    * stated convention, deterministic because TakeOrdered returns a
    * deterministic VALUE multiset even when boundary rows tie). PWM is
    * closed-form over order statistics: a₀ = Σy/n,
    * a₁ = Σ(n−r)·y₍ᵣ₎ / (n(n−1)) with r the ascending rank (rank
    * assignment inside a tied block cannot change the sum — tied y are
    * equal), then ξ = 2 − a₀/(a₀ − 2a₁), σ = 2·a₀·a₁/(a₀ − 2a₁); both
    * 0-guarded when a₀ − 2a₁ degenerates (all excesses equal). ξ > 0
    * means a genuinely heavy (Pareto-like) tail; ξ ≈ 0 exponential.
    *
    * Scale shape: hillTail's — the k+1 extremes come from
    * TakeOrderedAndProject (bounded heap per partition, never a global
    * sort); ranking and both PWM folds run on that k+1-row frame with
    * DECIMAL sums. */
  def gpdTail(orders: DataFrame, k: Int = 100): DataFrame = {
    val top = orders.select(col("o_totalprice").cast("double").as("x"))
      .orderBy(col("x").desc).limit(k + 1)
    val u = top.agg(min(col("x")).as("u"))
    val n = (k + 1).toLong
    def dec(c: Column) = c.cast("decimal(28,12)")
    def d(c: Column) = c.cast("double")
    val ranked = top.crossJoin(broadcast(u))
      .select(col("u"), (col("x") - col("u")).as("y"))
      .withColumn("r", row_number().over(Window.orderBy(col("y")))
        .cast("bigint"))
    val m = ranked.agg(max(col("u")).as("u"),
      (sum(dec(col("y"))).cast("double") / lit(n.toDouble)).as("a0"),
      (sum(dec(col("y") * (lit(n.toDouble) - d(col("r")))))
        .cast("double") / lit((n * (n - 1)).toDouble)).as("a1"))
    val den = col("a0") - lit(2.0) * col("a1")
    // sentinel divisor (codegen CSE + ANSI; see waldIv)
    val denDiv = when(den =!= 0.0, den).otherwise(lit(1.0))
    m.select(lit(n).as("n_excesses"), round(col("u"), 2).as("threshold"),
      r6(col("a0")).as("mean_excess"),
      r6(when(den =!= 0.0, lit(2.0) - col("a0") / denDiv)
        .otherwise(lit(0.0))).as("shape_xi"),
      r6(when(den =!= 0.0, lit(2.0) * col("a0") * col("a1") / denDiv)
        .otherwise(lit(0.0))).as("scale_sigma"))
  }

  /** Kruskal–Wallis rank ANOVA of per-customer order counts across
    * market segments — "does purchase frequency DIFFER by segment"
    * without normality assumptions (the k-group extension of
    * [[mannWhitney]]). H = 12/(N(N+1))·Σ R²_g/n_g − 3(N+1) with the
    * standard tie correction C = 1 − Σ(t³−t)/(N³−N); reported both raw
    * and corrected, df = groups−1. Under H₀, H ~ χ²(df) — the statistic
    * ships and the caller brings the CDF (no special functions, so both
    * engines agree bit-for-bit). Degenerate guard: if every value is
    * identical, C = 0 and H/C is undefined — h_corrected reports 0.0
    * (H itself is 0 there, so 0 is the right limit), mirrored by a CASE
    * in the oracle; the sibling degenerate-denominator discipline of
    * [[ebShrinkage]] and [[mcnemarBaselines]].
    *
    * Scale shape: the global rank window runs over the VALUE CENSUS
    * (distinct per-customer order counts — domain-bounded, the
    * mannWhitney discipline), never the customer frame; everything else
    * is map-side-combined aggregates and one segment-bounded fold. */
  def kruskalWallis(orders: DataFrame, customer: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("g"), col("x"))
    val cells = per.groupBy("x", "g").agg(count(lit(1)).as("nxg"))
    val census = cells.groupBy("x").agg(sum(col("nxg")).as("t"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = census
      .withColumn("below", coalesce(sum(col("t")).over(w), lit(0L)))
      .withColumn("avg_rank", col("below").cast("double") +
        (col("t").cast("double") + lit(1.0)) / lit(2.0))
    val groups = cells.join(ranked.select("x", "avg_rank"), "x")
      .groupBy("g")
      .agg(sum(col("nxg")).as("n_g"),
        sum((col("nxg").cast("double") * col("avg_rank"))
          .cast("decimal(28,12)")).as("r_g"))
    val ties = census.agg(
      sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    def d(c: Column) = c.cast("double")
    val m = groups.agg(sum(col("n_g")).as("n"),
        count(lit(1)).as("n_groups"),
        sum((d(col("r_g")) * d(col("r_g")) / d(col("n_g")))
          .cast("decimal(28,12)")).cast("double").as("rr"))
      .crossJoin(broadcast(ties))
    val n = d(col("n"))
    val h = lit(12.0) / (n * (n + lit(1.0))) * col("rr") -
      lit(3.0) * (n + lit(1.0))
    val c = lit(1.0) - d(col("tsum")) / (n * n * n - n)
    m.select(col("n"), (col("n_groups") - 1L).as("df"),
      r6(h).as("h"), r6(c).as("tie_correction"),
      r6(when(c > lit(0.0), h / c).otherwise(lit(0.0)))
        .as("h_corrected"))
  }

  /** One-way ANOVA F over per-customer order counts across market
    * segments — the parametric companion to [[kruskalWallis]] on the
    * same design: SSB = Σ n_g(x̄_g − x̄)², SSW = Σ_g(Σx² − (Σx)²/n_g),
    * F = (SSB/(k−1))/(SSW/(N−k)). Counts are integers, so every group
    * sum is exact; the k-bounded between/within folds go through
    * DECIMAL. F ~ F(k−1, N−k) under H₀ — statistic ships, caller brings
    * the CDF (no special functions, both engines bit-agree).
    *
    * Scale shape: one corpus aggregate to the customer frame, one
    * map-side-combined aggregate to the segment-bounded group frame,
    * then one-row folds. */
  def anovaF(orders: DataFrame, customer: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("g"), col("x"))
    val gstats = per.groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x")).cast("double").as("s_g"),
        sum(col("x") * col("x")).cast("double").as("ss_g"))
    fFold(gstats)
  }

  /** Levene's variance-homogeneity test (mean-centered original form)
    * on the same per-customer-order-count design as [[anovaF]]: the
    * ANOVA F recomputed over z = |x − x̄_g| answers "do segments differ
    * in SPREAD" — the assumption check before trusting anovaF's pooled
    * within-group variance. Group means broadcast back for the centering
    * pass; z moments fold through DECIMAL (z is a double).
    *
    * Scale shape: the [[anovaF]] passes plus one broadcast join of the
    * segment-bounded means frame — still two corpus-scale aggregates. */
  def levene(orders: DataFrame, customer: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("g"), col("x"))
      .pinned() // the means pass and the centering pass share it
    val means = per.groupBy("g")
      .agg((sum(col("x")).cast("double") /
        count(lit(1)).cast("double")).as("m_g"))
    val z = per.join(broadcast(means), Seq("g"))
      .select(col("g"), abs(col("x").cast("double") - col("m_g")).as("z"))
    def dec(c: Column) = c.cast("decimal(38,12)")
    val gstats = z.groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        sum(dec(col("z"))).cast("double").as("s_g"),
        sum(dec(col("z") * col("z"))).cast("double").as("ss_g"))
    fFold(gstats)
  }

  /** Post-hoc pairwise contrasts after [[anovaF]] — every segment pair's
    * mean difference standardized by the pooled within-group variance:
    * t_ij = (x̄_i − x̄_j) / √(MSW·(1/n_i + 1/n_j)) (the Tukey-HSD
    * statistic; the studentized-range CDF is the caller's, like every
    * other distribution here). The omnibus F says "something differs";
    * this table says WHICH pairs. MSW comes from the same DECIMAL
    * within-group fold as [[anovaF]], so the two reports cannot drift.
    *
    * Scale shape: the [[anovaF]] aggregates plus a k²-bounded self-join
    * of the segment frame — nothing data-scale after the group pass. */
  def pairwiseContrasts(orders: DataFrame,
                        customer: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("g"), col("x"))
    val gstats = per.groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x")).cast("double").as("s_g"),
        sum(col("x") * col("x")).cast("double").as("ss_g"))
      .pinned() // the MSW fold and the pair join both read it
    def d(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast("decimal(38,12)")
    val msw = gstats
      .select(col("n_g"),
        dec(col("ss_g") - col("s_g") * col("s_g") / d(col("n_g")))
          .as("ssw_t"))
      .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
        sum(col("ssw_t")).cast("double").as("ssw"))
      .select((col("ssw") / d(col("n") - col("k"))).as("msw"))
    val a = gstats.select(col("g").as("g_a"), col("n_g").as("n_a"),
      col("s_g").as("s_a"))
    val b = gstats.select(col("g").as("g_b"), col("n_g").as("n_b"),
      col("s_g").as("s_b"))
    val diff = col("s_a") / d(col("n_a")) - col("s_b") / d(col("n_b"))
    val se = sqrt(col("msw") *
      (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))
    a.join(b, col("g_a") < col("g_b"))
      .crossJoin(broadcast(msw))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        r6(col("s_a") / d(col("n_a"))).as("mean_a"),
        r6(col("s_b") / d(col("n_b"))).as("mean_b"),
        r6(diff).as("diff"), r6(se).as("se"),
        r6(diff / se).as("t"))
      .orderBy("g_a", "g_b")
  }

  /** Shared one-way-ANOVA fold over a (g, n_g, s_g, ss_g) group frame:
    * grand totals broadcast back, per-group between/within terms
    * DECIMAL-summed, one output row. */
  private def fFold(gstats: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast("decimal(38,12)")
    val tot = gstats.agg(sum(col("n_g")).as("n"),
      count(lit(1)).as("k"),
      sum(dec(col("s_g"))).cast("double").as("s"))
    val terms = gstats.crossJoin(broadcast(tot))
      .select(col("n"), col("k"),
        dec(d(col("n_g")) *
          (col("s_g") / d(col("n_g")) - col("s") / d(col("n"))) *
          (col("s_g") / d(col("n_g")) - col("s") / d(col("n"))))
          .as("ssb_t"),
        dec(col("ss_g") - col("s_g") * col("s_g") / d(col("n_g")))
          .as("ssw_t"))
    val m = terms.groupBy("n", "k")
      .agg(sum(col("ssb_t")).cast("double").as("ssb"),
        sum(col("ssw_t")).cast("double").as("ssw"))
    m.select(col("n"), (col("k") - 1L).as("df_between"),
      (col("n") - col("k")).as("df_within"),
      r6(col("ssb")).as("ss_between"), r6(col("ssw")).as("ss_within"),
      r6((col("ssb") / d(col("k") - 1L)) /
        (col("ssw") / d(col("n") - col("k")))).as("f"))
  }

  /** Simpson's-paradox screen: the pooled OLS slope of extended price
    * on quantity against the same slope WITHIN each return-flag stratum
    * — the aggregation-reversal audit every metrics team needs before
    * trusting a pooled trend (pooled and stratified slopes disagreeing
    * in sign means the stratum mix, not the relationship, drives the
    * pooled number). Slopes are (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from
    * DECIMAL-folded sums; the flip flag compares the UNROUNDED signs.
    *
    * Scale shape: one map-side-combined aggregate per stratum plus the
    * same aggregate unpartitioned (broadcast back onto the bounded
    * stratum frame) — two corpus passes, no window, no join on data. */
  def simpsonCheck(lineitem: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,10)")
    val base = lineitem.select(col("l_returnflag").as("g"),
      col("l_quantity").cast("double").as("x"),
      col("l_extendedprice").cast("double").as("y"))
    def sums(df: org.apache.spark.sql.RelationalGroupedDataset) =
      df.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("y"))).cast("double").as("sy"),
        sum(dec(col("x") * col("x"))).cast("double").as("sxx"),
        sum(dec(col("x") * col("y"))).cast("double").as("sxy"))
    def d(c: Column) = c.cast("double")
    def slope = (d(col("n")) * col("sxy") - col("sx") * col("sy")) /
      (d(col("n")) * col("sxx") - col("sx") * col("sx"))
    val perG = sums(base.groupBy("g"))
      .select(col("g"), col("n"), slope.as("slope_g"))
    val pooled = sums(base.groupBy())
      .select(slope.as("slope_pooled"))
    perG.crossJoin(broadcast(pooled))
      .select(col("g").as("stratum"), col("n"),
        r6(col("slope_g")).as("slope_stratum"),
        r6(col("slope_pooled")).as("slope_pooled"),
        (signum(col("slope_g")) =!= signum(col("slope_pooled")))
          .cast("int").as("sign_flip"))
      .orderBy("stratum")
  }

  /** Empirical-Bayes beta-binomial shrinkage of per-user purchase rates
    * (Robbins; the "add the prior you ESTIMATED" fix for small-n rate
    * rankings): method-of-moments α̂, β̂ from the observed per-user rate
    * moments — M = μ(1−μ)/v − 1, α̂ = μM, β̂ = (1−μ)M — then every user's
    * rate shrinks to (x+α̂)/(n+α̂+β̂). Low-n flukes collapse toward the
    * prior mean while high-n users keep their data; the top-k by shrunk
    * rate is the ranking a naive raw-rate sort gets wrong. Sample
    * variance (n−1); degenerate v = 0 yields no defined prior — guarded
    * to NULL α/β and shrunk = raw so the operator stays total.
    *
    * Scale shape: one corpus aggregate to the user frame, one one-row
    * moment aggregate broadcast back, TakeOrderedAndProject for the
    * top-k — no global sort, nothing collected. */
  def ebShrinkage(ev: DataFrame, k: Int = 20): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"))
      .withColumn("p", col("x").cast("double") / col("n").cast("double"))
      .pinned() // moments and scoring both read it
    def dec(c: Column) = c.cast("decimal(28,12)")
    val mom = per.agg(count(lit(1)).as("nu"),
      sum(dec(col("p"))).cast("double").as("sp"),
      sum(dec(col("p") * col("p"))).cast("double").as("spp"))
    def d(c: Column) = c.cast("double")
    val mu = col("sp") / d(col("nu"))
    val v = (col("spp") - d(col("nu")) * mu * mu) / (d(col("nu")) - lit(1.0))
    val mm = mu * (lit(1.0) - mu) / v - lit(1.0)
    val prior = mom.select(
      when(v > lit(0.0) && mm > lit(0.0), mu * mm).as("alpha"),
      when(v > lit(0.0) && mm > lit(0.0), (lit(1.0) - mu) * mm).as("beta"))
    val shrunk = when(col("alpha").isNotNull,
      (col("x").cast("double") + col("alpha")) /
        (col("n").cast("double") + col("alpha") + col("beta")))
      .otherwise(col("p"))
    per.crossJoin(broadcast(prior))
      .select(col("user_id"), col("n").as("n_events"),
        col("x").as("n_purchases"), r6(col("p")).as("raw_rate"),
        r6(shrunk).as("shrunk_rate"),
        r6(col("alpha")).as("alpha"), r6(col("beta")).as("beta"))
      .orderBy(col("shrunk_rate").desc, col("user_id"))
      .limit(k)
  }
}
