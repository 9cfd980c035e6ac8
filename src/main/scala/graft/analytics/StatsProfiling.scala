package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.functions.CleanFns.r6

/** StatsAnalytics, part 1 of 4 (mixed into the StatsAnalytics object;
  * split per VERDICT r10 item 7, zero behavior change): data-quality
  * profiling, outlier treatment, privacy audits, survival cohorts and
  * customer segments - histogram .. rfmSegmentsScale. */
private[analytics] trait StatsProfiling {
  this: StatsAnalytics.type =>

  /** Fixed-width histogram of a numeric column. Bucketing is a map-side
    * projection (`floor(x / width)`), so the only shuffle is the per-bucket
    * aggregate over ≤ range/width rows — at 100 TB the combine collapses
    * each input partition to the bucket count first. Static bounds keep the
    * output schema data-independent (no extra pass to find min/max, no
    * schema drift between runs — same reasoning as the explicit pivot value
    * list). */
  def histogram(df: DataFrame, valueCol: String, width: Double): DataFrame =
    df.select((floor(col(valueCol) / width)).cast("bigint").as("bucket"),
        col(valueCol))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min(col(valueCol)), 2).as("lo"),
        round(max(col(valueCol)), 2).as("hi"),
        round(avg(col(valueCol)), 6).as("mean"))
      .withColumn("bucket_lo", round(col("bucket") * width, 2))
      .orderBy("bucket")

  /** 2-D fixed-grid histogram (quantity × discount over lineitem): the
    * joint-distribution heat grid a cost model or data-viz layer feeds
    * on. Both bucket ids are map-side projections — the expression
    * `floor(x·inverseWidth)` is evaluated identically in every engine,
    * so even inexact-binary widths like 0.02 bin identically — and the
    * aggregate output is grid-sized. */
  def histogram2d(li: DataFrame,
                  qtyWidth: Double = 5.0,
                  discPerUnit: Double = 50.0): DataFrame =
    li.select(
        floor(col("l_quantity") / qtyWidth).cast("bigint").as("qty_bucket"),
        floor(col("l_discount") * discPerUnit).cast("bigint")
          .as("disc_bucket"))
      .groupBy("qty_bucket", "disc_bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("qty_bucket", "disc_bucket")

  /** Per-group z-score anomaly flags: rows whose value deviates from the
    * group mean by more than `nSigma` sample standard deviations. The
    * per-group stats frame has |groups| rows → Catalyst broadcasts it, so
    * the z computation is map-side over the raw data; nothing shuffles the
    * full table. Exactly the two-pass shape a 100 TB outlier scrub needs
    * (the single-pass alternative — a global window — would sort the whole
    * table). */
  def anomalies(ev: DataFrame, nSigma: Double = 2.5): DataFrame = {
    val stats = ev.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(abs(col("z")) > nSigma)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z"))
      .orderBy("event_id")
  }

  /** CUSUM change-point scan over the daily revenue series: running sum of
    * deviations from the global mean, flagging days where |S| exceeds
    * `nSigma` sample standard deviations. Everything nondeterministic
    * about float summation is forced through DECIMAL (daily totals, the
    * squared-deviation sum, the running prefix sum), so mean, sd, cusum —
    * and therefore the flag comparison — are bit-identical across
    * engines and partition orders. The global window runs over the DAILY
    * aggregate (|days| rows, already reduced), not the raw table — at
    * 100 TB the per-day reduction is the only full-data pass. */
  def cusumDays(orders: DataFrame, nSigma: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_dec"))
    val s1 = daily
      .agg(sum(col("rev_dec")).cast("double").as("tot"),
        count(lit(1)).as("n"))
      .select((col("tot") / col("n")).as("mu"), col("n"))
    val withMu = daily.crossJoin(broadcast(s1))
      .withColumn("dev", col("rev_dec").cast("double") - col("mu"))
    val s2 = withMu
      .agg(sum((col("dev") * col("dev")).cast("decimal(38,6)"))
          .cast("double").as("ss"),
        first(col("n")).as("nn"))
      .select(sqrt(col("ss") / (col("nn") - 1)).as("sd"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withMu.crossJoin(broadcast(s2))
      .withColumn("cusum",
        sum(col("dev").cast("decimal(38,6)")).over(w).cast("double"))
      .select(col("day"),
        col("rev_dec").cast("double").as("revenue"),
        round(col("cusum"), 2).as("cusum"),
        (abs(col("cusum")) > lit(nSigma) * col("sd")).cast("int").as("flag"))
      .orderBy("day")
  }

  /** Join-key skew report: for each candidate join key of a fact table,
    * the statistics that decide a 100 TB join strategy — distinct keys,
    * rows on the hottest key, its share of the table, and the p99 of the
    * per-key frequency distribution. One aggregate per key column (counts
    * collapse map-side to ≤|keys| rows); the percentile runs over the
    * per-key COUNTS, never the raw table — and at the 100 TB design point
    * swap the exact percentile for approx_percentile (mergeable, no
    * single-reducer sort over a billion-key count frame). A max share
    * ≫ 1/parallelism says "salt this key or let AQE split it" (see
    * q_salted_join). */
  def keySkewReport(df: DataFrame, keys: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val reports = keys.map { k =>
      val counts = df.select(col(k)).groupBy(k)
        .agg(count(lit(1)).as("n"))
      counts.agg(
        lit(k).as("key_col"),
        count(lit(1)).as("n_distinct"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_key_rows"),
        round(max(col("n")) / sum(col("n")), 6).as("max_share"),
        round(percentile(col("n"), lit(0.99)), 2).as("p99_key_rows"))
    }
    reports.reduce(_.union(_)).orderBy("key_col")
  }

  /** Join-cardinality planning audit: for each named (leftKeys,
    * rightKeys) equi-join, the System-R / Catalyst-CBO uniform-frequency
    * estimate `|L|·|R| / max(ndv_L, ndv_R)` beside the EXACT output size
    * `Σ_k c_L(k)·c_R(k)` — derived from the two per-key count frames
    * joined on key, never by materializing the audited join itself. The
    * error ratio is the number a 100 TB planner acts on: ≈1 ⇒ the CBO
    * row estimate is trustworthy; ≫1 ⇒ key-frequency skew multiplies
    * the shuffle beyond what uniform stats predict (salt the hot keys —
    * see q_salted_join — or pre-aggregate before joining). Scale shape:
    * per-key counts collapse map-side to key-cardinality frames; the
    * count-frame equi-join and Σ(c_L·c_R) reduce straight to one row;
    * all sizes stay exact BIGINT (products < 2⁶³ for any real table
    * pair) with one display-time round on the ratio. Null keys are
    * dropped on both sides first — SQL joins never match them, and
    * planner NDVs exclude them. */
  def joinCardinalityAudit(
      joins: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    val rows = joins.map { case (name, lk, rk) =>
      val cl = lk.toDF("k").filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("nl"))
      val cr = rk.toDF("k").filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("nr"))
      val sides = cl
        .agg(sum(col("nl")).as("rows_left"),
          count(lit(1)).as("ndv_left"))
        .crossJoin(cr.agg(sum(col("nr")).as("rows_right"),
          count(lit(1)).as("ndv_right")))
      val actual = cl.join(cr, Seq("k"))
        .agg(coalesce(sum(col("nl") * col("nr")), lit(0L))
          .as("actual_rows"))
      val est = floor(col("rows_left").cast("double") * col("rows_right")
        / greatest(col("ndv_left"), col("ndv_right"))).cast("bigint")
      sides.crossJoin(actual)
        .select(lit(name).as("join_name"),
          col("rows_left"), col("ndv_left"),
          col("rows_right"), col("ndv_right"),
          est.as("est_rows"), col("actual_rows"),
          round(col("actual_rows").cast("double") / est.cast("double"), 6)
            .as("err_ratio"))
    }
    rows.reduce(_.unionAll(_)).orderBy("join_name")
  }

  /** Median-imputation report: per event type, how many null values the
    * imputation would fill and with what, plus the before/after means —
    * the data-prep audit row a feature pipeline logs before training.
    * The medians come from the non-null population; the after-mean is
    * derived arithmetically from exact counts and decimal sums (no
    * second pass over imputed data). */
  def imputationReport(ev: DataFrame): DataFrame = {
    val med = ev.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("fill_value"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(col("value").cast("decimal(38,6)")).as("sum_dec"))
      .join(broadcast(med), Seq("event_type"), "left")
      .select(col("event_type"), col("n_rows"), col("n_null"),
        round(col("fill_value"), 6).as("fill_value"),
        round(col("sum_dec").cast("double") /
          (col("n_rows") - col("n_null")), 6).as("mean_before"),
        round((col("sum_dec").cast("double") +
          col("n_null") * col("fill_value")) / col("n_rows"), 6)
          .as("mean_after"))
      .orderBy("event_type")
  }

  /** Per-group IQR outlier fences (Tukey): [Q1 − k·IQR, Q3 + k·IQR] and
    * the count outside them — the box-plot rule, third member of the
    * robust family beside [[anomalies]] (z-score) and [[madByGroup]].
    * Same two-pass shape: exact quartiles, |groups|-row broadcast,
    * map-side flagging. */
  def iqrOutliers(ev: DataFrame, k: Double = 1.5): DataFrame = {
    val q = ev.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.25)).as("q1"),
        percentile(col("value"), lit(0.75)).as("q3"))
      .select(col("event_type"), col("q1"), col("q3"),
        (col("q1") - (col("q3") - col("q1")) * k).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * k).as("hi"))
    ev.filter(col("value").isNotNull)
      .join(broadcast(q), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(first(col("lo")), 6).as("lo_fence"),
        round(first(col("hi")), 6).as("hi_fence"),
        sum(when(col("value") < col("lo") ||
          col("value") > col("hi"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Per-group robust dispersion via MAD (median absolute deviation):
    * median of |x − median| with exact interpolated medians. Robust
    * counterpart of [[anomalies]]' mean/stddev — a heavy tail moves the
    * z-score cutoff but barely moves MAD. Two grouped percentile passes;
    * the |groups|-row median frame broadcasts between them, so the raw
    * table shuffles on the group key twice and nothing else. At 100 TB
    * swap exact percentile for approx_percentile (mergeable, one pass). */
  def madByGroup(ev: DataFrame): DataFrame = {
    val med = ev.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    ev.filter(col("value").isNotNull)
      .join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(first(col("med")), 6).as("median"),
        round(percentile(abs(col("value") - col("med")), lit(0.5)), 6)
          .as("mad"))
      .orderBy("event_type")
  }

  /** Winsorization: clip values to the per-group [p_lo, p_hi] band
    * (robust-scaling step for training-data value columns). The cutoffs
    * are ORDER STATISTICS — the k-th smallest value with
    * k = ceil(q·n) — selected from the per-group value census, not
    * interpolating percentiles: interpolation diverges across engines
    * when the rank lands inside a tie group (found at sf1, where the
    * replica structure repeats every value ~10×), while the k-th value
    * is integer-exact everywhere. The census is value-domain-bounded
    * (2-decimal money values), so the per-group cumulative window is a
    * bounded frame; the |groups|-row cutoff frame broadcasts and the
    * clip runs map-side. Sums go through DECIMAL so partials merge
    * order-independently. Output is the per-group before/after
    * summary. */
  def winsorize(ev: DataFrame, lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val vals = ev.filter(col("value").isNotNull)
    val census = vals.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val cum = census.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val n = vals.groupBy("event_type").agg(count(lit(1)).as("n"))
    val cuts = cum.join(broadcast(n), "event_type")
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") >= ceil(lit(lo) * col("n")),
          col("value"))).as("p_lo"),
        min(when(col("cum") >= ceil(lit(hi) * col("n")),
          col("value"))).as("p_hi"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
    ev.join(broadcast(cuts), "event_type")
      .withColumn("clipped",
        least(greatest(col("value"), col("p_lo")), col("p_hi")))
      .groupBy("event_type")
      .agg(count(col("value")).as("n"),
        sum(when(col("value") < col("p_lo") || col("value") > col("p_hi"),
          1L).otherwise(0L)).as("n_clipped"),
        round(sum(dec(col("value"))), 2).cast("double").as("raw_sum"),
        round(sum(dec(col("clipped"))), 2).cast("double")
          .as("winsorized_sum"))
      .orderBy("event_type")
  }

  /** Column profiling — null count and distinct cardinality per column in
    * ONE pass (the generalization of the reference's quality report): all
    * metrics land in a single aggregate row, which then explodes into the
    * long (col_name, n_null, n_distinct) layout driver-side-free. The
    * multi-countDistinct plans as one Expand; at 100 TB swap the exact
    * distinct counts for approx_count_distinct to keep the aggregate
    * buffers sketch-sized. */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
      countDistinct(col(c)).as(s"__dist_$c"))) :+
      count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(
        explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col(s"__null_$c").as("n_null"),
          col(s"__dist_$c").as("n_distinct"))): _*)).as("s"),
        col("__n").as("n_rows"))
      .select(col("s.col_name"), col("n_rows"), col("s.n_null"),
        col("s.n_distinct"))
      .orderBy("col_name")
  }

  /** Quantile treatment effects over the hash variants — the
    * DISTRIBUTIONAL A/B readout the mean-difference tests miss: a
    * treatment that helps the median but hurts the tail nets to zero in
    * [[abLift]] yet shows plainly as per-decile deltas. Exact
    * interpolating percentiles per variant (the q_value_percentiles
    * discipline — at 100 TB swap for the approx-percentile sketch
    * sibling), unpivoted to one row per decile with the B−A effect.
    * One grouped aggregate + a 9-row reshape. */
  def quantileTreatmentEffect(ev: DataFrame): DataFrame = {
    val rows = ev.filter(col("value").isNotNull && col("user_id").isNotNull)
      .select(Sampling.hashBucket(col("user_id"), 2).as("variant"),
        col("value"))
    val ps = (1 to 9).map(_ / 10.0)
    val m = rows.groupBy("variant")
      .agg(expr(s"percentile(value, array(${ps.mkString(", ")}))")
        .as("qs"))
    val a = m.filter(col("variant") === 0)
      .select(posexplode(col("qs")).as(Seq("i", "qa")))
    val b = m.filter(col("variant") === 1)
      .select(posexplode(col("qs")).as(Seq("i", "qb")))
    a.join(b, Seq("i"))
      .select(((col("i") + 1) * 10).cast("bigint").as("pct"),
        r6(col("qa")).as("q_a"), r6(col("qb")).as("q_b"),
        r6(col("qb") - col("qa")).as("qte"))
      .orderBy("pct")
  }

  /** Covariate-balance table for the hash-split variants — the
    * diagnostic read BEFORE any causal readout ([[diffInDiff]],
    * matching, CUPED): per covariate (event value, hour-of-day, and the
    * portable epoch-day weekday), the standardized mean difference
    * SMD = (m₁−m₀)/√((v₀+v₁)/2); |SMD| ≳ 0.1 flags imbalance the
    * adjustment must carry. One stacked map-side-collapsing aggregate
    * (covariate × moment conditional DECIMAL sums) — the welchTTest fold
    * applied per covariate. */
  def covariateBalance(ev: DataFrame): DataFrame = {
    val dow = ((floor(unix_micros(col("ts")) / lit(86400000000L)) +
      lit(4)) % 7).cast("double")
    val rows = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(Sampling.hashBucket(col("user_id"), 2).as("variant"),
        explode(array(
          struct(lit("a_value").as("cname"),
            coalesce(col("value"), lit(0.0)).as("x")),
          struct(lit("b_hour").as("cname"),
            hour(col("ts")).cast("double").as("x")),
          struct(lit("c_dow").as("cname"), dow.as("x")))).as("s"))
      .select(col("variant"), col("s.cname"), col("s.x"))
    def cSum(pred: Column, v: Column) =
      sum(when(pred, v).otherwise(lit(0.0)).cast("decimal(28,12)"))
    val m = rows.groupBy("cname").agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      cSum(col("variant") === 0, col("x")).as("s_a"),
      cSum(col("variant") === 1, col("x")).as("s_b"),
      cSum(col("variant") === 0, col("x") * col("x")).as("ss_a"),
      cSum(col("variant") === 1, col("x") * col("x")).as("ss_b"))
    def d(name: String) = col(name).cast("double")
    val meanA = d("s_a") / d("n_a")
    val meanB = d("s_b") / d("n_b")
    val varA = (d("ss_a") - d("s_a") * d("s_a") / d("n_a")) /
      (d("n_a") - lit(1.0))
    val varB = (d("ss_b") - d("s_b") * d("s_b") / d("n_b")) /
      (d("n_b") - lit(1.0))
    m.select(col("cname").as("covariate"), col("n_a"), col("n_b"),
        r6(meanA).as("mean_a"), r6(meanB).as("mean_b"),
        // zero-variance guard: a covariate constant in BOTH variants has
        // equal means by construction — SMD is 0, not 0/0 (ANSI division
        // would throw)
        when(varA + varB > lit(0.0),
          r6((meanB - meanA) / sqrt((varA + varB) / lit(2.0))))
          .otherwise(lit(0.0)).as("smd"))
      .orderBy("covariate")
  }

  /** Delta-method standard error for a RATIO metric (total value per
    * event, user as the i.i.d. unit) — the correction every
    * experimentation platform applies because a ratio of sums is NOT a
    * mean of ratios and the naive per-row variance understates it:
    * Var(ΣX/ΣY) ≈ (Sxx − 2r·Sxy + r²·Syy) / (n·ȳ²) with r = x̄/ȳ
    * (Deng et al., "Applying the Delta Method in Metric Analytics").
    * ONE per-user pass builds (x, y); one moment aggregate DECIMAL-sums
    * x, y, x², xy, y²; the estimate, SE, and the ±1.96 CI are scalar
    * projections — the same two-shuffle shape as [[cuped]]. */
  def deltaMethodRatio(ev: DataFrame): DataFrame = {
    val per = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(sum(coalesce(col("value"), lit(0.0)).cast("decimal(18,6)"))
          .cast("double").as("x"),
        count(lit(1)).cast("double").as("y"))
    def dsum(c: Column) = sum(c.cast("decimal(28,10)")).cast("double")
    val m = per.agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"),
      dsum(col("y")).as("sy"), dsum(col("x") * col("x")).as("sxx"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    val mx = col("sx") / n
    val my = col("sy") / n
    val r = col("sx") / col("sy")
    val sxx = (col("sxx") - col("sx") * col("sx") / n) / (n - lit(1.0))
    val sxy = (col("sxy") - col("sx") * col("sy") / n) / (n - lit(1.0))
    val syy = (col("syy") - col("sy") * col("sy") / n) / (n - lit(1.0))
    val z = lit(1.96)
    val se = sqrt((sxx - lit(2.0) * r * sxy + r * r * syy) /
      (n * my * my))
    m.select(col("n").as("n_users"), r6(mx).as("mean_x"),
      r6(my).as("mean_y"), r6(r).as("ratio"),
      r6(se).as("se_delta"),
      r6(r - z * se).as("ci_lo"), r6(r + z * se).as("ci_hi"))
  }

  /** ANALYZE-style column statistics over the order book — the stats a
    * cost-based optimizer feeds on (and the deeper sibling of
    * [[nullProfile]]): per column, row/null counts, exact NDV, typed
    * min/max (computed in the column's own type, cast to string only
    * for the uniform report layout), and the most-common value with its
    * frequency. Shape: ONE multi-aggregate row for the typed stats (the
    * same single-Expand plan as nullProfile) plus one stacked
    * (column, value) census for the MCV — whose per-column argmax is a
    * map-side min_by on the (−count, value) total order, never a sort.
    * At 100 TB swap the exact NDVs for approx_count_distinct; the MCV
    * census is the only value-cardinality frame. */
  def analyzeStats(orders: DataFrame): DataFrame = {
    val cols = Seq("o_custkey", "o_orderpriority", "o_orderstatus",
      "o_totalprice")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
      countDistinct(col(c)).as(s"__ndv_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"))) :+
      count(lit(1)).as("__n")
    val base = orders.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
          lit(c).as("cname"),
          col("__n").as("n_rows"),
          col(s"__null_$c").as("n_null"),
          col(s"__ndv_$c").as("ndv"),
          col(s"__min_$c").as("min_v"),
          col(s"__max_$c").as("max_v"))): _*)).as("s"))
      .select(col("s.*"))
    val census = orders.select(explode(array(cols.map(c =>
        struct(lit(c).as("cname"), col(c).cast("string").as("v"))): _*))
        .as("s"))
      .select(col("s.cname"), col("s.v"))
      .filter(col("v").isNotNull)
      .groupBy("cname", "v").agg(count(lit(1)).as("cnt"))
    val mcv = census.groupBy("cname")
      .agg(min_by(struct(col("v"), col("cnt")),
        struct((-col("cnt")).as("nc"), col("v"))).as("m"))
      .select(col("cname"), col("m.v").as("mcv_value"),
        col("m.cnt").as("mcv_count"))
    base.join(mcv, Seq("cname")).orderBy("cname")
  }

  /** Deterministic A/B conversion lift: users split into two variants by
    * the portable md5 hash bucket (cross-engine reproducible — same split
    * in the DuckDB oracle), conversion = any HIGH-VALUE purchase (every
    * fixture user has some purchase, so plain purchase would be degenerate
    * p=1 and the pooled z would hit 0/0). One grouped pass per user
    * (shuffle on user_id), then a single-row conditional aggregate; the
    * two-proportion pooled z-statistic is a scalar projection. At 100 TB
    * the per-user pass is the only data-sized stage. */
  def abLift(ev: DataFrame, minValue: Double = 90.0): DataFrame = {
    val perUser = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > minValue, 1L).otherwise(0L))
        .as("converted"))
      .withColumn("variant", Sampling.hashBucket(col("user_id"), 2))
    val one = perUser.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("users_a"),
      sum(when(col("variant") === 0, col("converted")).otherwise(0L))
        .as("conv_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("users_b"),
      sum(when(col("variant") === 1, col("converted")).otherwise(0L))
        .as("conv_b"))
    one
      .withColumn("rate_a", col("conv_a").cast("double") / col("users_a"))
      .withColumn("rate_b", col("conv_b").cast("double") / col("users_b"))
      .withColumn("pooled",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("users_a") + col("users_b")))
      .withColumn("z_stat", round(
        (col("rate_b") - col("rate_a")) /
          sqrt(col("pooled") * (lit(1.0) - col("pooled")) *
            (lit(1.0) / col("users_a") + lit(1.0) / col("users_b"))), 6))
      .select(col("users_a"), col("conv_a"), col("users_b"), col("conv_b"),
        round(col("rate_a"), 6).as("rate_a"),
        round(col("rate_b"), 6).as("rate_b"),
        round(col("rate_b") - col("rate_a"), 6).as("lift"),
        col("z_stat"))
  }

  /** Smoothed mean target encoding — the classic categorical featurizer a
    * training pipeline applies before gradient models: each category maps
    * to (sum + m·prior)/(n + m), shrinking rare categories toward the
    * global mean. Both aggregates accumulate in DECIMAL (order-independent
    * → oracle-parity at any partition count); the one-row prior broadcasts,
    * so the only data-sized stage is the per-category pass. The derived
    * ratios are double ops on identical inputs — deterministic IEEE. */
  def targetEncoding(ev: DataFrame, m: Double = 10.0): DataFrame = {
    val nn = ev.filter(col("value").isNotNull && col("event_type").isNotNull)
    def dsum = sum(col("value").cast("decimal(18,6)")).cast("double")
    val prior = nn.agg(
      (dsum / count(lit(1)).cast("double")).as("__prior"))
    nn.groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum.as("__s"))
      .crossJoin(broadcast(prior))
      .select(col("event_type"), col("n"),
        round(col("__s") / col("n").cast("double"), 6).as("mean_value"),
        round((col("__s") + lit(m) * col("__prior")) /
          (col("n").cast("double") + lit(m)), 6).as("encoded"))
      .orderBy("event_type")
  }

  /** Kaplan–Meier survival curve over user lifetimes (days from first to
    * last event), right-censoring users still active on the fixture's
    * final day — the churn-analytics estimator, relationally: one
    * per-user pass (shuffle on user_id), a per-lifetime death/censor
    * aggregate (at most |days| rows), then the KM product Π(1−d/n) as a
    * log-space DECIMAL prefix sum over the tiny ordered frame —
    * windowed-double products would be engine-order-dependent; summed
    * logs of IEEE-identical terms are not. At-risk counts derive from an
    * exclusive integer prefix sum. */
  /** The (t, d, c) lifetime event table shared by [[survivalKm]] and
    * [[nelsonAalen]]: per-user lifetime in days, censored iff the user
    * was still active on the corpus horizon, grouped into per-lifetime
    * death/censor counts. */
  private[analytics] def lifetimeTable(ev: DataFrame): DataFrame = {
    val life = ev.filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id")
      .agg(datediff(max(col("d")), min(col("d"))).as("lifetime"),
        max(col("d")).as("last_d"))
    val horizon = life.agg(max(col("last_d")).as("h"))
    life.crossJoin(broadcast(horizon))
      .select(col("lifetime").cast("bigint").as("t"),
        when(col("last_d") === col("h"), 1L).otherwise(0L).as("censored"))
      .groupBy("t")
      .agg(sum(lit(1L) - col("censored")).as("d"),
        sum(col("censored")).as("c"))
  }

  def survivalKm(ev: DataFrame): DataFrame = {
    val perT = lifetimeTable(ev)
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = perT.agg(sum(col("d") + col("c")).as("n_total"))
    // log term only for survivable steps; a step where everyone at risk
    // dies (d = n) sends S to exactly 0 — tracked by a flag, since
    // ln(0) has no decimal representation
    val logTerm = when(col("d") > 0 && col("d") < col("n_risk"),
      log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
        .cast("decimal(28,12)")).otherwise(lit(0.0).cast("decimal(28,12)"))
    val zeroFlag = max(when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .over(w)
    perT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev),
          lit(0L)))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        when(zeroFlag === 1L, lit(0.0))
          .otherwise(round(exp(sum(logTerm).over(w).cast("double")), 6))
          .as("s_km"))
      .orderBy("t")
  }

  /** Laplace-mechanism count release — differential-privacy mechanics as
    * a pure projection: noise is inverse-CDF-sampled from a uniform
    * derived deterministically from the portable 60-bit hash (no RNG
    * state, so the release is reproducible and oracle-checkable; a
    * production release would swap the hash for a real RNG, everything
    * else unchanged). Sensitivity-1 counts, b = 1/ε. The true count rides
    * along as the audit column, same pattern as the sketch audits. */
  def dpCounts(ev: DataFrame, epsilon: Double = 1.0): DataFrame = {
    import graft.ext.TextFns.portableH60
    val counts = ev.filter(col("event_type").isNotNull)
      .groupBy("event_type").agg(count(lit(1)).as("true_n"))
    val u = portableH60(concat(col("event_type"), lit("|dp1")))
      .cast("double") / lit(1152921504606846976.0) - lit(0.5)
    val sign = when(u >= 0, lit(1.0)).otherwise(lit(-1.0))
    val noise = lit(-1.0) / lit(epsilon) * sign *
      log(lit(1.0) - lit(2.0) * abs(u))
    counts.select(col("event_type"), col("true_n"),
        round(col("true_n") + noise, 4).as("released_n"),
        lit(epsilon).as("epsilon"))
      .orderBy("event_type")
  }

  /** Per-market-segment Gini coefficient of customer spend — the revenue
    * concentration audit. Per-customer spend aggregates in DECIMAL (one
    * shuffle on custkey), joins the segment label, then the rank formula
    * G = 2·Σ r·x / (n·Σx) − (n+1)/n over a window PARTITIONED by segment
    * (per-segment sort of the already-aggregated customer frame, not the
    * raw orders — the 100 TB shape). Ranks tiebreak on custkey so the
    * r·x products are IEEE-identical across engines; their sum
    * accumulates in DECIMAL. */
  def giniBySegment(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("spend_d"))
      .withColumn("spend", round(col("spend_d"), 2).cast("double"))
    val seg = customer.select(col("c_custkey").as("custkey"),
      col("c_mktsegment").as("segment"))
    val w = Window.partitionBy("segment")
      .orderBy(col("spend"), col("custkey"))
    spend.join(seg, "custkey")
      .withColumn("r", row_number().over(w))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend").cast("decimal(28,6)")).as("__sx"),
        sum((col("r").cast("double") * col("spend"))
          .cast("decimal(28,6)")).as("__srx"))
      .select(col("segment"), col("n_customers"),
        round(col("__sx"), 2).cast("double").as("total_spend"),
        round(lit(2.0) * col("__srx").cast("double") /
          (col("n_customers").cast("double") * col("__sx").cast("double")) -
          (col("n_customers") + lit(1)).cast("double") /
            col("n_customers").cast("double"), 6).as("gini"))
      .orderBy("segment")
  }

  /** Population-stability index of the value distribution per event type
    * between the first and second half of the time window — the drift
    * monitor a feature store runs between training and serving periods.
    * The period split derives from the broadcast (min,max) date midpoint;
    * binning is the same map-side `floor(value·invWidth)` as [[ksTest]],
    * so the only data-sized stage is one (event_type, bucket) aggregate.
    * Laplace-smoothed shares ((c+½)/(n+½·B)) keep ln finite on one-sided
    * bins; the Σ(p−q)·ln(p/q) terms are IEEE-identical doubles summed in
    * DECIMAL. */
  def psiDrift(ev: DataFrame, invWidth: Double = 2.0): DataFrame = {
    val rows = ev.filter(col("value").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * invWidth).cast("bigint").as("bucket"))
    val span = rows.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
    val cells = rows.crossJoin(broadcast(span))
      .groupBy("event_type", "bucket")
      .agg(sum(when(col("d") <= col("mid"), 1L).otherwise(0L)).as("ce"),
        sum(when(col("d") > col("mid"), 1L).otherwise(0L)).as("cl"))
    val p = (col("ce").cast("double") + lit(0.5)) /
      (col("n_early").cast("double") + lit(0.5) * col("n_bins"))
    val q = (col("cl").cast("double") + lit(0.5)) /
      (col("n_late").cast("double") + lit(0.5) * col("n_bins"))
    cells
      .withColumn("n_early", sum(col("ce"))
        .over(Window.partitionBy("event_type")))
      .withColumn("n_late", sum(col("cl"))
        .over(Window.partitionBy("event_type")))
      .withColumn("n_bins", count(lit(1))
        .over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max(col("n_early")).as("n_early"),
        max(col("n_late")).as("n_late"),
        max(col("n_bins")).as("n_bins"),
        sum(((p - q) * log(p / q)).cast("decimal(28,12)")).as("__psi"))
      .select(col("event_type"), col("n_early"), col("n_late"),
        col("n_bins"), round(col("__psi").cast("double"), 6).as("psi"))
      .orderBy("event_type")
  }

  /** Chi-square test of independence between the deterministic hash
    * variant (same split as [[abLift]]) and event type. The contingency
    * table is one aggregate over the corpus; expected counts and cell
    * contributions are pure integer-derived double arithmetic, summed in
    * DECIMAL. Output is the one-row test report (k types, per-variant n,
    * dof, statistic). */
  def chiSquare(ev: DataFrame): DataFrame = {
    val cells = ev
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(Sampling.hashBucket(col("user_id"), 2).as("variant"),
        col("event_type"))
      .groupBy("event_type")
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c1"))
    val tot = cells.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
      count(lit(1)).as("k"))
    def contrib(c: Column, n: Column, nAll: Column): Column = {
      val e = (col("c0") + col("c1")).cast("double") *
        n.cast("double") / nAll.cast("double")
      (c.cast("double") - e) * (c.cast("double") - e) / e
    }
    val nAll = col("n0") + col("n1")
    cells.crossJoin(broadcast(tot))
      .groupBy("k", "n0", "n1")
      .agg(sum((contrib(col("c0"), col("n0"), nAll) +
        contrib(col("c1"), col("n1"), nAll))
        .cast("decimal(28,12)")).as("__x2"))
      .select(col("k").as("k_types"), col("n0").as("n_a"),
        col("n1").as("n_b"), (col("k") - lit(1)).cast("bigint").as("dof"),
        round(col("__x2").cast("double"), 6).as("chi2"))
  }

  /** RFM segmentation of the order book: per-customer recency (days from
    * last order to the horizon), frequency (order count), and monetary
    * (DECIMAL spend), each quintiled by ntile(5) with custkey tiebreaks
    * so the assignment is total and engine-independent. The quintile
    * windows sort the per-CUSTOMER aggregate, not raw orders; at larger
    * scale the boundaries would come from approx percentiles instead of
    * a global ntile sort — this is the exact oracle form. Output is the
    * (r,f,m) cell census with segment revenue. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val horizon = orders.agg(max(to_date(col("o_orderdate"))).as("h"))
    val perCust = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("mon"))
      .crossJoin(broadcast(horizon))
      .withColumn("recency", datediff(col("h"), col("last_d")))
    val scored = perCust
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("recency").desc, col("custkey"))).cast("bigint"))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("freq"), col("custkey"))).cast("bigint"))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("mon"), col("custkey"))).cast("bigint"))
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("mon")), 2).cast("double").as("segment_revenue"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** The 100 TB shape of [[rfmSegments]]: quintile BOUNDARIES from
    * `approx_percentile` (a mergeable sketch aggregate — map-side partials,
    * no global single-partition ntile sort anywhere in the plan), broadcast
    * back as one row, scores assigned map-side by counting boundaries
    * exceeded. Semantic delta vs the exact form, by design: equal values
    * get equal scores (a boundary cut cannot split ties the way a ranked
    * ntile does), so tile sizes are only approximately n/5 — the spec
    * bounds the census against the exact form. At fixture scale the GK
    * sketch is EXACT — but only while accuracy exceeds the customer
    * count (the sketch keeps every rank until it must compress, i.e. a
    * merged summary can drift within ±n/accuracy ranks of ceil(p·n)
    * beyond that), so the default sits at 10⁷: two orders of magnitude
    * above the sf1 customer count, far past any fixture the verify/bench
    * gates read, at ~MB of sketch state. It returns the sample at rank
    * ceil(p·n), which the DuckDB oracle reproduces with an explicit
    * row_number rank — so this query stays hash-checked while its plan
    * is the one that survives 1000 executors. Memory bound: each partial
    * GK summary retains O(min(n, accuracy)) samples before compression
    * merges anything, so accuracy IS the per-partial state budget — the
    * default stays at Spark's sketch-grade 10⁴ (~100 KB per partial);
    * the verify/bench entry passes the exact-at-fixture 10⁷ explicitly
    * because the oracle hash-checks against an exact row_number rank. */
  def rfmSegmentsScale(orders: DataFrame,
                       accuracy: Int = 10000): DataFrame = {
    val horizon = orders.agg(max(to_date(col("o_orderdate"))).as("h"))
    // per-customer aggregate feeds BOTH the boundary sketch and the scoring
    // pass — localCheckpoint so the orders scan+shuffle runs once
    val perCust = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("mon"))
      .crossJoin(broadcast(horizon))
      .withColumn("recency", datediff(col("h"), col("last_d")))
      .pinned()
    val ps = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
    val bounds = perCust.agg(
      percentile_approx(col("recency"), ps, lit(accuracy)).as("rb"),
      percentile_approx(col("freq"), ps, lit(accuracy)).as("fb"),
      percentile_approx(col("mon"), ps, lit(accuracy)).as("mb"))
    def above(v: Column, b: Column): Column =
      (lit(1) + (0 to 3).map(i => (v > b(i)).cast("int")).reduce(_ + _))
        .cast("bigint")
    val scored = perCust.crossJoin(broadcast(bounds))
      // recency quintiles are DESC in the exact form (tile 1 = least
      // recent); invert the ascending boundary count to match
      .withColumn("r_score", lit(6L) - above(col("recency"), col("rb")))
      .withColumn("f_score", above(col("freq"), col("fb")))
      .withColumn("m_score", above(col("mon"), col("mb")))
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("mon")), 2).cast("double").as("segment_revenue"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Exponentially weighted moving average of daily revenue with α = ½ —
    * the smoothing a monitoring dashboard runs. The recursion unrolls to
    * ewma_t = Σ_{j≥2} x_j·2^{-(t-j+1)} + x_1·2^{-(t-1)}; with α = ½
    * every weight is an EXACT power of two built by integer bit-shift
    * (`pow` has no cross-libm rounding guarantee, shifts do), so each
    * term is an IEEE-identical double, summed in DECIMAL. The daily frame
    * is |days|-sized, so the unrolled pair join is bounded; weights
    * beyond 2⁻⁶² underflow the output rounding and are dropped, keeping
    * the shift in range. */
}
