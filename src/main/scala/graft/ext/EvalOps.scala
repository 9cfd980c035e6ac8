package graft.ext

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import TextFns._
import graft.functions.CleanFns.r6

/** Model/data evaluation operators for training-data pipelines: ranking
  * quality (Mann-Whitney AUC), probability calibration (reliability /
  * ECE / Brier), leave-one-source-out data valuation, a pareto-frontier
  * (skyline) report, a strict ordered funnel, and item-item collaborative
  * filtering. Beyond-parity surface in the spirit of the reference's
  * analytics stage (reference: analytics.py:20-68 computes fixed KPI
  * reports; these are the evaluation reports a 100 TB training-data
  * pipeline adds on top).
  *
  * Numeric discipline (cross-engine oracle parity): scores are integerised
  * early (`floor(10000·ratio + 0.5)`), every sum that feeds a rounded
  * double accumulates integers or DECIMAL(28,12), and doubles only appear
  * in final single-step divisions — see PLANS.md playbook.
  */
object EvalOps {

  /** Integer quality score in [0, 10000]: the English-stopword ratio of
    * the whitespace tokens, scaled by 10⁴ and rounded half-up via
    * `floor(z + 0.5)` (portable across engines, unlike round()). Used as
    * the deterministic "model score" for the AUC and calibration reports:
    * it genuinely predicts `lang = 'en'` on the fixture corpus. */
  private def scoredDocs(docs: DataFrame): DataFrame = {
    graft.plans.TokenStats.register(docs.sparkSession)
    val staged = docs.select(col("lang"),
      graft.plans.TokenStats.token_stats(col("text")).as("__st"))
    val n = col("__st.n_tokens")
    val m = col("__st.hits_en")
    val sri = when(n === 0L, lit(0L))
      .otherwise(floor(lit(10000.0) * m / n + lit(0.5)).cast("long"))
    staged.select(sri.as("sri"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
  }

  /** Uncertainty-sampling batch selection — the active-learning staple:
    * the `k` documents whose quality score sits CLOSEST to the decision
    * boundary (sri = 5000, i.e. p = 0.5) are exactly the labels worth
    * buying next (a confident model learns nothing from its confident
    * predictions). The pick is orderBy + limit over (uncertainty
    * margin, doc_id) — Spark plans TakeOrderedAndProject, a bounded
    * per-partition heap, never a global sort. */
  def uncertaintyBatch(docs: DataFrame, k: Int = 20): DataFrame = {
    graft.plans.TokenStats.register(docs.sparkSession)
    val staged = docs.select(col("doc_id"),
      graft.plans.TokenStats.token_stats(col("text")).as("__st"))
    val n = col("__st.n_tokens")
    val m = col("__st.hits_en")
    val sri = when(n === 0L, lit(0L))
      .otherwise(floor(lit(10000.0) * m / n + lit(0.5)).cast("long"))
    staged.select(col("doc_id"), sri.as("sri"))
      .withColumn("margin", abs(col("sri") - lit(5000L)))
      .orderBy(col("margin"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("sri"),
        r6(col("margin").cast("double") / lit(10000.0))
          .as("uncertainty"))
  }

  /** Knee / optimal operating point of the cumulative-gains curve: the
    * score cutoff maximizing (captured-positives share − kept-docs
    * share) — geometrically the farthest point from the random-baseline
    * chord, statistically the KS point of the ranking. This is THE
    * number a filter gate deploys: "keep everything above sri*". One
    * score-census pass (the [[gainsCurve]] machinery), then an argmax
    * over the census via orderBy + limit 1. */
  def gainsKnee(docs: DataFrame): DataFrame = {
    val census = scoredDocs(docs).groupBy(col("sri"))
      .agg(count(lit(1)).as("n_s"), sum(col("y")).as("pos_s"))
      .pinned()
    val wc = Window.orderBy(col("sri").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = census.agg(sum(col("n_s")).as("n_docs"),
      sum(col("pos_s")).as("n_pos"))
    def d(c: Column) = c.cast("double")
    census
      .withColumn("cum_n", sum(col("n_s")).over(wc))
      .withColumn("cum_pos", sum(col("pos_s")).over(wc))
      .crossJoin(broadcast(tot))
      .select(col("sri"),
        (d(col("cum_pos")) / d(col("n_pos")) -
          d(col("cum_n")) / d(col("n_docs"))).as("sep"),
        col("cum_n"), col("cum_pos"), col("n_docs"), col("n_pos"))
      .orderBy(col("sep").desc, col("sri"))
      .limit(1)
      .select(col("sri").as("knee_sri"),
        col("cum_n").as("n_kept"), col("cum_pos").as("pos_captured"),
        r6(d(col("cum_n")) / d(col("n_docs"))).as("frac_kept"),
        r6(d(col("cum_pos")) / d(col("n_pos"))).as("frac_pos"),
        r6(col("sep")).as("separation"))
  }

  /** Mann-Whitney AUC of the stopword-ratio score against the binary
    * `lang = 'en'` label, with the standard tie correction (each tied
    * pos/neg pair contributes ½).
    *
    * Scale shape: the corpus aggregates to one row per DISTINCT integer
    * score (≤ 10 001 rows) in a single map-side-combined groupBy; the
    * rank-sum window then runs over that tiny frame, never over raw
    * documents. Arithmetic stays integral until the final division, so
    * the result is bit-stable under any partitioning. */
  def aucReport(docs: DataFrame): DataFrame = {
    val per = scoredDocs(docs).groupBy("sri").agg(
      sum(col("y")).as("n_pos_s"),
      (count(lit(1)) - sum(col("y"))).as("n_neg_s"))
    val w = Window.orderBy("sri").rowsBetween(Window.unboundedPreceding, -1)
    val cum = per.withColumn("cum_neg",
      coalesce(sum(col("n_neg_s")).over(w), lit(0L)))
    cum.agg(
        sum(col("n_pos_s")).as("n_pos"),
        sum(col("n_neg_s")).as("n_neg"),
        // 2·U, kept integral: sum over scores of pos_s·(2·negBelow + negTied)
        sum(col("n_pos_s") * (lit(2L) * col("cum_neg") + col("n_neg_s")))
          .as("u2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("u2") / (lit(2.0) * col("n_pos") * col("n_neg")), 6)
          .as("auc"))
  }

  /** Reliability diagram over score deciles plus the scalar expected
    * calibration error (ECE) and Brier score, treating the [0,1] score as
    * a predicted probability of `lang = 'en'`.
    *
    * Per-bucket means come from integer sums; the cross-bucket ECE and
    * the corpus Brier sum accumulate DECIMAL(28,12) addends (exact, so
    * order-independent across partitions), converting to double only at
    * the final divide. The scalar totals ride back on a one-row
    * crossJoin (broadcast nested loop, the repo-standard scalar
    * pattern). */
  def calibrationReport(docs: DataFrame): DataFrame = {
    val d = col("sri") / lit(10000.0) - col("y")
    val staged = scoredDocs(docs)
      .withColumn("sq", (d * d).cast("decimal(28,12)"))
    val per = staged
      .groupBy(least(lit(9L), expr("sri DIV 1000")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("sri").as("s_sri"),
        sum("y").as("s_y"), sum("sq").as("s_sq"))
    val b = per.select(col("bucket"), col("n_docs"), col("s_sq"),
        (col("s_sri") / (lit(10000.0) * col("n_docs"))).as("conf_raw"),
        (col("s_y") / col("n_docs")).as("acc_raw"))
      .withColumn("gap_raw", abs(col("conf_raw") - col("acc_raw")))
    val tot = b.agg(sum("n_docs").as("n_total"),
      sum((col("n_docs") * col("gap_raw")).cast("decimal(28,12)"))
        .as("s_gap"),
      sum(col("s_sq")).as("s_sq_tot"))
    b.crossJoin(tot).select(
        col("bucket"), col("n_docs"),
        round(col("conf_raw"), 6).as("mean_score"),
        round(col("acc_raw"), 6).as("frac_pos"),
        round(col("gap_raw"), 6).as("abs_gap"),
        round(col("s_gap").cast("double") / col("n_total"), 6).as("ece"),
        round(col("s_sq_tot").cast("double") / col("n_total"), 6)
          .as("brier"))
      .orderBy("bucket")
  }

  /** Precision–recall AUC of the stopword-ratio score against the
    * `lang = 'en'` label — the imbalance-honest companion to the ROC
    * [[auc]]: on a skewed corpus ROC-AUC stays flattering while PR-AUC
    * collapses with precision, which is why retrieval/filter gates read
    * this one. Trapezoidal integration over the SCORE-CENSUS operating
    * points (score descending; the anchor point is recall 0 / precision
    * 1, the standard convention): same ≤10 001-row census discipline as
    * [[auc]] — the corpus aggregates once, every window runs on the
    * census. Segment areas go DECIMAL before the sum. */
  def prAuc(docs: DataFrame): DataFrame = {
    val census = scoredDocs(docs).groupBy(col("sri"))
      .agg(count(lit(1)).as("n_s"), sum(col("y")).as("pos_s"))
      .pinned() // totals and curve points share one corpus pass
    val wc = Window.orderBy(col("sri").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wl = Window.orderBy(col("sri").desc)
    val tot = census.agg(sum(col("n_s")).as("n_docs"),
      sum(col("pos_s")).as("n_pos"), count(lit(1)).as("n_blocks"))
    val pts = census
      .withColumn("cum_n", sum(col("n_s")).over(wc))
      .withColumn("cum_pos", sum(col("pos_s")).over(wc))
      .crossJoin(broadcast(tot))
      .withColumn("r", col("cum_pos").cast("double") /
        col("n_pos").cast("double"))
      .withColumn("p", col("cum_pos").cast("double") /
        col("cum_n").cast("double"))
      .withColumn("r0", coalesce(lag(col("r"), 1).over(wl), lit(0.0)))
      .withColumn("p0", coalesce(lag(col("p"), 1).over(wl), lit(1.0)))
    val area = pts.select(((col("r") - col("r0")) *
        (col("p") + col("p0")) / lit(2.0))
        .cast("decimal(28,12)").as("a"))
      .agg(sum(col("a")).cast("double").as("auc_pr"))
    tot.crossJoin(broadcast(area))
      .select(col("n_docs"), col("n_pos"), col("n_blocks"),
        r6(col("auc_pr")).as("pr_auc"))
  }

  /** Murphy decomposition of the Brier score over the same deciles as
    * [[calibrationReport]]: brier_binned = RELIABILITY − RESOLUTION +
    * UNCERTAINTY, plus the within-bin score variance that separates the
    * binned score from the raw one — the report that says WHY the Brier
    * number is what it is (badly calibrated? undiscriminating? or just
    * an uncertain base rate?). Every input is an integer sum (sri ≤ 10⁴
    * keeps Σsri² within long range), so each component is a rational of
    * exact integers assembled in one bin-census pass; per-bin
    * double terms go DECIMAL before the cross-bin sum. */
  def brierDecomp(docs: DataFrame): DataFrame = {
    val bins = scoredDocs(docs)
      .groupBy(least(lit(9L), expr("sri DIV 1000")).as("bucket"))
      .agg(count(lit(1)).as("nb"), sum(col("sri")).as("sp"),
        sum(col("sri") * col("sri")).as("spp"), sum(col("y")).as("sy"),
        sum(col("sri") * col("y")).as("spy"))
      .pinned() // the global roll-up and terms share one pass
    val glob = bins.agg(sum(col("nb")).as("n"), sum(col("sp")).as("gsp"),
      sum(col("spp")).as("gspp"), sum(col("sy")).as("gsy"),
      sum(col("spy")).as("gspy"))
    def d(c: Column) = c.cast("double")
    val pbar = d(col("sp")) / (lit(10000.0) * d(col("nb")))
    val ybarB = d(col("sy")) / d(col("nb"))
    val ybar = d(col("gsy")) / d(col("n"))
    val terms = bins.crossJoin(broadcast(glob))
      .select(
        (d(col("nb")) * (pbar - ybarB) * (pbar - ybarB))
          .cast("decimal(28,12)").as("rel_t"),
        (d(col("nb")) * (ybarB - ybar) * (ybarB - ybar))
          .cast("decimal(28,12)").as("res_t"),
        ((d(col("spp")) - d(col("sp")) * d(col("sp")) / d(col("nb"))) /
          lit(1.0e8)).cast("decimal(28,12)").as("wbv_t"),
        col("n"), col("gsy"), col("gspp"), col("gsp"), col("gspy"))
      .groupBy(col("n"), col("gsy"), col("gspp"), col("gspy"))
      .agg(sum(col("rel_t")).cast("double").as("rel_s"),
        sum(col("res_t")).cast("double").as("res_s"),
        sum(col("wbv_t")).cast("double").as("wbv_s"))
    val n = d(col("n"))
    val rel = col("rel_s") / n
    val res = col("res_s") / n
    val unc = (d(col("gsy")) / n) * (lit(1.0) - d(col("gsy")) / n)
    val braw = (d(col("gspp")) / lit(1.0e8) -
      lit(2.0) * d(col("gspy")) / lit(10000.0) + d(col("gsy"))) / n
    terms.select(col("n").as("n_docs"),
      r6(unc).as("uncertainty"), r6(rel).as("reliability"),
      r6(res).as("resolution"), r6(col("wbv_s") / n).as("within_bin_var"),
      r6(rel - res + unc).as("brier_binned"), r6(braw).as("brier_raw"))
  }

  /** Leave-one-source-out data valuation: for each document source, the
    * corpus mean document length and English share WITHOUT that source,
    * and the delta each exclusion causes — the one-pass mixture-ablation
    * report (no per-source rescan: totals minus the group's own sums).
    *
    * All sums are integers, so `(total − group) / (n − n_group)` is exact
    * until the single final division — bit-stable at any scale. The
    * totals frame is one row (crossJoin broadcast). */
  def sourceAblation(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("s_chars"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("s_en"))
    val tot = per.agg(sum("n_docs").as("n_tot"),
      sum("s_chars").as("c_tot"), sum("s_en").as("e_tot"))
    val meanAll = col("c_tot") / col("n_tot")
    val meanWo = (col("c_tot") - col("s_chars")) /
      (col("n_tot") - col("n_docs"))
    val shareWo = (col("e_tot") - col("s_en")) /
      (col("n_tot") - col("n_docs"))
    per.crossJoin(tot).select(
        col("source"), col("n_docs"),
        round(meanAll, 4).as("mean_chars_all"),
        round(meanWo, 4).as("mean_chars_without"),
        round(meanWo - meanAll, 4).as("delta_chars"),
        round(shareWo, 6).as("en_share_without"),
        round(shareWo - col("e_tot") / col("n_tot"), 6)
          .as("delta_en_share"))
      .orderBy("source")
  }

  /** 2-D skyline (pareto frontier) of the part catalog: parts for which
    * no other part is at-least-as-cheap AND at-least-as-large with one
    * strict — the classic "best tradeoff" query.
    *
    * Scale shape: instead of the O(n²) NOT-EXISTS (which the DuckDB
    * oracle runs as the independent cross-check), the corpus aggregates
    * to min-price per size (p_size has a bounded domain, ≤ 50 values),
    * a running min over strictly-larger sizes sweeps that tiny frame,
    * and one broadcast join back marks survivors: a part survives iff it
    * hits its size's min price and beats the best price at any larger
    * size. One shuffle (the groupBy), no self-join of the big table. */
  def skylineParts(part: DataFrame): DataFrame = {
    val base = part.select(col("p_partkey"), col("p_size"),
      col("p_retailprice"))
    val perSize = base.groupBy("p_size")
      .agg(min("p_retailprice").as("min_price"))
    // bounded-domain frame (≤ 50 rows): forced broadcast is safe here
    val w = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val swept = perSize.withColumn("best_above",
      min(col("min_price")).over(w))
    base.join(broadcast(swept), "p_size")
      .filter(col("p_retailprice") === col("min_price") &&
        (col("best_above").isNull ||
          col("p_retailprice") < col("best_above")))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey")
  }

  /** Strict ordered funnel: first 'view', then the first 'click' strictly
    * after it within 7 days, then the first 'purchase' strictly after
    * that within 7 days (reference analytics.py:41-53 computes the
    * unordered per-day form; this is the sequential-session variant).
    *
    * Each stage is a groupBy on user_id joined back on user_id — the
    * exchanges share one partitioning, so the chain costs one shuffle of
    * the events projection plus co-partitioned joins. Counts ride on
    * one-row crossJoins. */
  def funnelStrict(events: DataFrame): DataFrame = {
    val e = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"))
    val week = expr("INTERVAL 7 DAYS")
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + week)
      .groupBy("user_id").agg(min("ts").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + week)
      .groupBy("user_id").agg(min("ts").as("t3"))
    t1.agg(count(lit(1)).as("n_step1"))
      .crossJoin(t2.agg(count(lit(1)).as("n_step2")))
      .crossJoin(t3.agg(count(lit(1)).as("n_step3")))
      .select(col("n_step1"), col("n_step2"), col("n_step3"),
        when(col("n_step1") === 0L, lit(0.0))
          .otherwise(round(col("n_step2") / col("n_step1"), 6))
          .as("rate_step2"),
        when(col("n_step2") === 0L, lit(0.0))
          .otherwise(round(col("n_step3") / col("n_step2"), 6))
          .as("rate_step3"))
  }

  /** Logistic regression as ONE relational Newton step (Fisher scoring
    * from the null model w = 0) on two document-quality features —
    * stopword ratio and repetition ratio — against the `lang = 'en'`
    * label, reporting the fitted weights and training accuracy vs the
    * majority-class baseline.
    *
    * Why one step: at w = 0 every sigmoid is EXACTLY ½, so the gradient
    * is X'(y − ½) and the Hessian ¼·X'X — no transcendental functions
    * anywhere, and classification needs only the SIGN of the linear
    * score. The whole fit is +,−,×,÷ over integer-derived doubles, hence
    * bit-identical across engines and partitionings (further steps would
    * need exp(), which has no cross-engine rounding contract).
    *
    * Scale shape: one aggregation pass collects the 10 normal-equation
    * sums (decimal-cast addends → order-independent); the 3×3 solve is
    * closed-form adjugate arithmetic on that single row; the accuracy
    * pass joins the one-row weight frame back via broadcast crossJoin.
    * Two corpus scans total, no shuffle wider than the scalar agg. */
  def logregNewton(docs: DataFrame): DataFrame = {
    graft.plans.TokenStats.register(docs.sparkSession)
    val staged = docs.select(col("lang"),
      graft.plans.TokenStats.token_stats(col("text")).as("__st"))
    val n = col("__st.n_tokens")
    val m = col("__st.hits_en")
    val nd = col("__st.n_distinct")
    val sri = when(n === 0L, lit(0L))
      .otherwise(floor(lit(10000.0) * m / n + lit(0.5)).cast("long"))
    val rri = when(n === 0L, lit(0L))
      .otherwise(floor(lit(10000.0) *
        (lit(1.0) - nd.cast("double") / n.cast("double")) + lit(0.5))
        .cast("long"))
    val base = staged.select(sri.as("sri"), rri.as("rri"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))

    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(28,12)"))
    val x1 = col("sri") / lit(10000.0)
    val x2 = col("rri") / lit(10000.0)
    val r = col("y").cast("double") - lit(0.5)
    val a = base.select(x1.as("x1"), x2.as("x2"), col("y"), r.as("r"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        dsum(col("x1")).as("s1"), dsum(col("x2")).as("s2"),
        dsum(col("x1") * col("x1")).as("s11"),
        dsum(col("x1") * col("x2")).as("s12"),
        dsum(col("x2") * col("x2")).as("s22"),
        dsum(col("r")).as("g0"),
        dsum(col("x1") * col("r")).as("g1"),
        dsum(col("x2") * col("r")).as("g2"))
    val d = a.select(col("n"), col("n_pos"),
      col("n").cast("double").as("a00"), col("s1").cast("double").as("a01"),
      col("s2").cast("double").as("a02"), col("s11").cast("double").as("a11"),
      col("s12").cast("double").as("a12"), col("s22").cast("double").as("a22"),
      col("g0").cast("double").as("g0"), col("g1").cast("double").as("g1"),
      col("g2").cast("double").as("g2"))
    val j = d.withColumn("adj00", col("a11") * col("a22") - col("a12") * col("a12"))
      .withColumn("adj01", col("a02") * col("a12") - col("a01") * col("a22"))
      .withColumn("adj02", col("a01") * col("a12") - col("a11") * col("a02"))
      .withColumn("adj11", col("a00") * col("a22") - col("a02") * col("a02"))
      .withColumn("adj12", col("a01") * col("a02") - col("a00") * col("a12"))
      .withColumn("adj22", col("a00") * col("a11") - col("a01") * col("a01"))
      .withColumn("det", col("a00") * col("adj00") + col("a01") * col("adj01")
        + col("a02") * col("adj02"))
    // Newton step from w = 0: w = H⁻¹g = 4·(X'X)⁻¹·X'(y − ½)
    val w = j.select(col("n"), col("n_pos"),
      ((lit(4.0) * (col("adj00") * col("g0") + col("adj01") * col("g1")
        + col("adj02") * col("g2"))) / col("det")).as("w0"),
      ((lit(4.0) * (col("adj01") * col("g0") + col("adj11") * col("g1")
        + col("adj12") * col("g2"))) / col("det")).as("w1"),
      ((lit(4.0) * (col("adj02") * col("g0") + col("adj12") * col("g1")
        + col("adj22") * col("g2"))) / col("det")).as("w2"))
    val pred = base.crossJoin(w).select(col("y"),
      when(col("w0") + col("w1") * (col("sri") / lit(10000.0))
        + col("w2") * (col("rri") / lit(10000.0)) > lit(0.0), 1L)
        .otherwise(0L).as("pred"))
    val c = pred.agg(
      sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"),
      count(lit(1)).as("nn"))
    w.crossJoin(c).select(col("n"), col("n_pos"),
      round(col("w0"), 6).as("w0"), round(col("w1"), 6).as("w1"),
      round(col("w2"), 6).as("w2"),
      round(col("n_correct") / col("nn"), 6).as("accuracy"),
      round(greatest(col("n_pos"), col("n") - col("n_pos")) / col("n"), 6)
        .as("baseline_acc"))
  }

  /** Isotonic (monotone) calibration of the stopword-ratio score against
    * the `lang = 'en'` label via the minimax characterization of the
    * pool-adjacent-violators fit: over score centiles,
    * `iso(i) = max_{j≤i} min_{k≥i} pooledRate(j..k)` — the exact PAV
    * solution, no iteration. The monotone-rate curve is what turns a
    * ranking score into a usable probability when the reliability
    * diagram ([[calibrationReport]]) shows non-monotone buckets.
    *
    * Scale shape: the corpus collapses to ≤ 101 centile rows in one
    * map-side-combined groupBy; the O(B²) pair frame (≤ ~5k rows), its
    * running-min window, and the final max-per-bin all run on that tiny
    * domain — the minimax double loop never touches documents. Pooled
    * rates are integer/integer divisions (IEEE-identical everywhere);
    * output rounds via the portable floor(z·10⁶+0.5) (ratios of small
    * ints DO land on exact half boundaries, where engines' round()
    * half-modes disagree). */
  def isotonicCalibration(docs: DataFrame): DataFrame = {
    val per = scoredDocs(docs)
      .groupBy(expr("sri DIV 100").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val cw = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = per.select(col("bin"), col("n"), col("n_pos"),
      sum(col("n")).over(cw).as("cn"),
      sum(col("n_pos")).over(cw).as("cp"))
    val lo = cum.select(col("bin").as("j"),
      (col("cn") - col("n")).as("cnj"), (col("cp") - col("n_pos")).as("cpj"))
    val pairs = lo.join(
        cum.select(col("bin").as("k"), col("cn"), col("cp")),
        col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cp") - col("cpj")).cast("double") /
          (col("cn") - col("cnj")).cast("double")).as("a"))
    val tailMin = Window.partitionBy("j").orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val fitted = pairs.withColumn("mn", min(col("a")).over(tailMin))
      .groupBy(col("k").as("bin")).agg(max(col("mn")).as("iso"))
    per.join(fitted, Seq("bin"))
      .select(col("bin"), col("n"), col("n_pos"),
        r6(col("n_pos").cast("double") / col("n").cast("double"))
          .as("rate_raw"),
        r6(col("iso")).as("rate_iso"))
      .orderBy("bin")
  }

  /** Item-item collaborative filtering over the co-purchase graph:
    * cosine-normalised co-occurrence `cooc(a,b) / √(freq(a)·freq(b))`,
    * top-5 neighbours per item — "customers who bought X also bought Y".
    *
    * Reuses the shared coPurchaseCounts scan (one corpus shuffle, local
    * pair synthesis — StarAnalytics.scala); item frequencies are one
    * distinct+groupBy; the per-item top-k compiles to WindowGroupLimit
    * so no partition materialises a full neighbour list sort. The freq
    * frames scale with the catalog, so no forced broadcast — AQE
    * decides. The integer product under the √ stays below 2⁵³, so the
    * double math is exact and cross-engine stable. */
  /** Memo for the scored neighbour frame: `q_item_cf` and `q_cf_hitrate`
    * both need it in one Bench run — same sharing policy (and key shape)
    * as `StarAnalytics.coPurchaseCounts`, materialized via
    * localCheckpoint so the second consumer reads shuffle-free. */
  def itemCF(spark: SparkSession, sfDir: String, topK: Int = 5): DataFrame =
    graft.Shared(spark, s"itemCF$topK@$sfDir")(
      itemCFUncached(spark, sfDir, topK).localCheckpoint())

  /** The un-memoized neighbour build — the frame PlanShapeSpec pins. */
  private[graft] def itemCFUncached(spark: SparkSession, sfDir: String,
                                    topK: Int = 5): DataFrame = {
    val cooc = graft.analytics.StarAnalytics.coPurchaseCounts(spark, sfDir)
    val freq = graft.analytics.StarAnalytics.partFreq(spark, sfDir)
      .select(col("l_partkey"), col("n_part").as("n_item"))
    val fa = freq.select(col("l_partkey").as("part_a"), col("n_item"))
    val fb = freq.select(col("l_partkey").as("part_b"),
      col("n_item").as("n_other"))
    // cosine is symmetric: score each UNORDERED pair once (joins run on
    // the 1.2M-pair frame), then mirror the scored rows — half the join
    // work of scoring a pre-mirrored 2.4M-row frame
    val scoredPairs = cooc.join(fa, "part_a").join(fb, "part_b")
      .withColumn("sim", col("n_orders") /
        sqrt((col("n_item") * col("n_other")).cast("double")))
      .select(col("part_a"), col("part_b"), col("n_orders"), col("sim"))
    val scored = scoredPairs.select(col("part_a").as("item"),
        col("part_b").as("other"), col("n_orders"), col("sim"))
      .unionByName(scoredPairs.select(col("part_b").as("item"),
        col("part_a").as("other"), col("n_orders"), col("sim")))
    // top-k per item through the mergeable native aggregate: the bounded
    // heap admits each candidate in O(log k) and PARTIAL-aggregates
    // map-side, so the group exchange moves ≤ k rows per (item, input
    // partition) and no per-item sort ever materializes the full
    // neighbour list — the ranking equivalent of a partial-merge sketch
    // (ranks by UNROUNDED sim with the same (sim DESC, other ASC) total
    // order as the row_number form it replaced; TopKSpec pins equality).
    graft.plans.TopK.register(spark)
    scored.groupBy("item")
      .agg(graft.plans.TopK.top_k_by_score(
        struct(col("sim"), col("other"), col("n_orders")), topK).as("top"))
      .select(col("item"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("item"), col("t.other").as("other"),
        col("t.n_orders").as("n_orders"),
        round(col("t.sim"), 6).as("sim"),
        (col("r0") + 1).cast("bigint").as("rnk"))
      .orderBy("item", "rnk")
  }

  /** Leave-one-out hit-rate@k for the [[itemCF]] recommender: per
    * multi-item order, hold out the max part id and count the order a
    * hit when any remaining item's top-k neighbour list contains the
    * held-out part — the offline eval that decides whether the CF
    * neighbours are worth serving. Closes the loop on `q_item_cf` the
    * way `q_ann_recall` does for the IVF index.
    *
    * Scale shape — the corpus never re-shuffles in the eval: it rides
    * the shared [[graft.analytics.StarAnalytics.orderSets]] basket
    * frame (one corpus shuffle, memoized, shared with the whole
    * market-basket family); the held-out target is `element_at(ps, -1)`
    * of the sorted set and the order size is `size(ps)` — both narrow.
    * The neighbour probe is a broadcast hash join (the neighbour frame
    * is k rows per catalog item — the same broadcast-bounded assumption
    * as the serving path; at catalog scales past the broadcast limit
    * drop the hint and the probe degrades to a shuffle join without
    * changing the result), and the per-order hit bit PARTIAL-aggregates
    * map-side, so the one keyed exchange left moves a pre-reduced
    * (order, bit) row per map partition — never the exploded basket
    * rows (Round11OpsSpec pins the exchange above the partial max).
    * Replaces the earlier form (per-order agg + orderParts self-join +
    * distinct) that shuffled the pair frame three times per run. */
  def cfHitRate(spark: SparkSession, sfDir: String,
                topK: Int = 5): DataFrame = {
    val nbrs = itemCF(spark, sfDir, topK).select(col("item"), col("other"))
    val eval = graft.analytics.StarAnalytics.orderSets(spark, sfDir)
      .filter(size(col("ps")) >= 2)
      .select(col("l_orderkey"), element_at(col("ps"), -1).as("target"),
        col("ps"))
    // hit ⇔ some non-held-out item's top-k list contains the target;
    // the left join keeps no-neighbour orders in the n_eval denominator
    val perOrder = eval
      .select(col("l_orderkey"), col("target"),
        explode(col("ps")).as("item"))
      .join(broadcast(nbrs), Seq("item"), "left")
      .groupBy("l_orderkey")
      .agg(max(when(col("item") =!= col("target") &&
        col("other") === col("target"), 1).otherwise(0)).as("hit"))
    perOrder.agg(count(lit(1)).as("n_eval"), sum(col("hit")).as("n_hits"))
      .select(col("n_eval"), col("n_hits"),
        r6(col("n_hits").cast("double") / col("n_eval").cast("double"))
          .as("hit_rate"))
  }

  /** Bradley–Terry preference-strength fitting (Bradley & Terry 1952)
    * via Hunter's MM iteration (Hunter 2004, fixed round budget) — the
    * preference-model fit an RLHF data pipeline runs over pairwise
    * comparison logs to audit annotator consistency and derive reward-
    * model targets. Comparisons are synthesized deterministically from
    * the fixtures: within each order, every part pair "competes" and the
    * larger summed quantity wins (ties to the smaller partkey), giving a
    * reproducible (i, j, n_matches, wins_i) census any engine rebuilds.
    * Two MM rounds from γ=1: γ'_i = W_i / Σ_j n_ij/(γ_i+γ_j), then
    * rescaled so Σγ = N (the standard identifiability constraint).
    *
    * Cross-engine determinism: the MM denominators and the normalization
    * sum accumulate DECIMAL(38,18)-cast terms (order-independent
    * addition, the PageRank-inflow discipline); every double division /
    * multiplication is a single fixed-order expression.
    *
    * Scale shape: one corpus shuffle builds the per-order (part, qty)
    * sets; pair synthesis is basket-local HOF work (no positional
    * self-join — the coPurchase pattern); the match census aggregates
    * map-side to pair-catalog scale and the ≥`minMatches` floor prunes
    * the tail before any iteration. Each MM round is two hash joins plus
    * a map-side-combined aggregate on the PRUNED catalog-scale graph —
    * the corpus is touched exactly once total. */
  def bradleyTerry(lineitem: DataFrame, minMatches: Long = 2L,
                   rounds: Int = 2, k: Int = 20): DataFrame = {
    // ONE explicit order-key shuffle serves BOTH aggregates: partitioning
    // on l_orderkey satisfies the (order, part) clustering AND the order
    // clustering, so the qty sum and the basket assembly both plan
    // exchange-free on top of it (lineitem is ~1 row per (order, part),
    // so the map-side partial the composite-key groupBy would have done
    // pre-shuffle collapses nothing anyway).
    val pq = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).cast("bigint").as("q"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_partkey").as("p"),
        col("q")))).as("pq"))
      .filter(size(col("pq")) > 1)
    val matches = pq.select(explode(flatten(transform(col("pq"),
        (x, i) => transform(slice(col("pq"), i + 2, size(col("pq"))),
          y => struct(x.getField("p").as("pa"), x.getField("q").as("qa"),
            y.getField("p").as("pb"), y.getField("q").as("qb"))))))
        .as("m"))
      .select(col("m.pa").as("pa"), col("m.pb").as("pb"),
        when(col("m.qb") > col("m.qa"), 0L).otherwise(1L).as("win_a"))
    // pairs and nodes pin LAZILY (pairs is read 4x through sym/nodes,
    // nodes 3x through the rounds and the report; lazy = stored inside
    // the first job that needs them — the old EAGER checkpoints ran 3
    // separate materialization jobs plus a nodes.count() job at
    // DataFrame-construction time, ~full seconds of per-run wall before
    // the query's own job even started).
    val pairs = matches.groupBy("pa", "pb")
      .agg(count(lit(1)).as("n"), sum(col("win_a")).as("wa"))
      .filter(col("n") >= minMatches)
      .pinned()
    // sym is pinned HASH-CLUSTERED on i (the hitsOnEdges discipline):
    // every round's γ joins are then BROADCAST joins (γ is node-scale —
    // bounded by the part catalog, not the corpus) that preserve the
    // clustering, so each round's groupBy("i") plans exchange-free. One
    // up-front exchange replaces two per round. At node counts past
    // broadcast limits swap the hints for plain hash joins and the same
    // clustered copy still serves the join's stream side.
    val sym = pairs.select(col("pa").as("i"), col("pb").as("j"), col("n"))
      .union(pairs.select(col("pb").as("i"), col("pa").as("j"), col("n")))
      .repartition(col("i"))
      .pinned()
    val nodes = pairs.select(col("pa").as("i"), col("wa").as("w"), col("n"))
      .union(pairs.select(col("pb").as("i"), (col("n") - col("wa")).as("w"),
        col("n")))
      .groupBy("i").agg(sum(col("w")).as("wi"), sum(col("n")).as("ni"))
      .pinned()
    // the identifiability rescale's N rides the plan as a broadcast
    // scalar instead of a driver-side count(): count(1) over the same
    // nodes frame is the same exact integer, and its double cast
    // multiplies identically to the old literal.
    val nCnt = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    var g = nodes.select(col("i"), lit(1.0).as("g"))
    for (_ <- 1 to rounds) {
      val den = sym
        .join(broadcast(g.select(col("i").as("ii"), col("g").as("gi"))),
          col("i") === col("ii"))
        .join(broadcast(g.select(col("i").as("jj"), col("g").as("gj"))),
          col("j") === col("jj"))
        .select(col("i"),
          (col("n") / (col("gi") + col("gj"))).cast("decimal(38,18)")
            .as("t"))
        .groupBy("i").agg(sum(col("t")).cast("double").as("den"))
      val u = nodes.join(den, Seq("i"))
        .select(col("i"), (col("wi") / col("den")).as("g"))
      // ONE broadcast carries both rescale scalars (sg is per-round, the
      // loop-invariant nCnt rides along — same two columns, same exact
      // values, one BroadcastExchange stage-job instead of two)
      val sg = u.agg(sum(col("g").cast("decimal(38,18)")).cast("double")
        .as("sg")).crossJoin(nCnt)
      // per-round pin kept (unlike hitsOnEdges' linear chain, γ feeds
      // TWO broadcasts next round; measured: dropping the pin saved 3
      // jobs but cost ~1 s of recompute task time and a slower floor)
      g = u.crossJoin(broadcast(sg))
        .select(col("i"), (col("g") * col("n_nodes") / col("sg")).as("g"))
        .pinned()
    }
    nodes.join(g, Seq("i"))
      .select(col("i").as("part"), col("ni").as("n_matches"),
        col("wi").as("n_wins"), round(col("g"), 9).as("strength"))
      .orderBy(col("strength").desc, col("part")).limit(k)
  }

  /** Split conformal prediction intervals, group-conditional (Mondrian)
    * per order priority — the distribution-free uncertainty wrapper
    * (Papadopoulos et al. 2002; Vovk et al.) a training pipeline puts
    * around ANY point predictor before acting on its outputs. Everything
    * is deterministic: slices come from `o_orderkey % 10` (train ≤ 5,
    * calibration ∈ {6,7}, test ≥ 8 — the decontaminate slice convention),
    * the "model" is the train-slice mean total per priority, and the
    * per-priority conformal quantile `qhat` is the k-th smallest absolute
    * calibration residual with k = ⌈(1−α)·(n_cal+1)⌉ (computed in exact
    * integer arithmetic, ties ranked by (residual, orderkey) — a total
    * order any engine reproduces). The report then audits the finite-
    * sample guarantee: empirical test coverage of μ ± qhat, which
    * conformal theory lower-bounds by 1−α in expectation. k > n_cal
    * (tiny calibration groups) yields an infinite interval — qhat NULL,
    * coverage 1 — rather than a silent crash.
    *
    * Cross-engine determinism: μ is CAST(decimal-sum AS DOUBLE)/n (one
    * exact sum, one IEEE division), residuals are single double
    * subtractions of it, and the ≤ qhat comparison uses the UNROUNDED
    * residuals; rounding happens only at the report boundary.
    *
    * Scale shape: the model and the per-priority counts are map-side-
    * combined aggregates over bounded group counts; residual frames are
    * narrow (priority, key, residual) projections under broadcast joins
    * of the tiny model. The one data-scale structure is the calibration
    * residual rank — a per-priority sort of the 20% calibration slice.
    * That is the exact-oracle form; at 100 TB the quantile stage swaps to
    * the approx-percentile sketch boundary exactly like rfmSegmentsScale
    * (PLANS.md scale-sibling program) with no change to anything
    * downstream. */
  /** Scale sibling of [[conformalCoverage]] — the 100 TB form of the
    * calibration quantile (the PLANS.md scale-sibling program: same
    * pattern as rfmSegmentsScale / lorenzDecilesScale). The exact form
    * ranks the calibration slice with a per-priority row_number window —
    * a data-scale sort; here qhat comes from `percentile_approx` (GK
    * sketch, mergeable map-side partials, ~KB of state per group), so NO
    * window over data-scale rows exists anywhere in the plan
    * (Round17OpsSpec pins the no-WindowExec claim). At the fixture the
    * sketch is exact (accuracy ≥ n_cal) and equals the value at rank
    * ⌈0.9·n⌉ — one index off the strict conformal ⌈0.9·(n+1)⌉, the
    * documented approximation the sketch boundary buys; everything
    * downstream (coverage audit, report shape) is unchanged. Keep the
    * exact-at-fixture accuracy at bench/verify call sites; at real scale
    * pass the accuracy the memory budget affords. */
  def conformalCoverageScale(orders: DataFrame, alphaPct: Int = 10,
                             accuracy: Int = 1000000): DataFrame = {
    val s = orders.select(col("o_orderkey"),
      col("o_orderpriority").as("priority"), col("o_totalprice"),
      (col("o_orderkey") % 10).as("m"))
    val model = s.filter(col("m") <= 5).groupBy("priority")
      .agg(count(lit(1)).as("n_train"),
        (sum(col("o_totalprice").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("mu"))
    val qhat = s.filter(col("m").isin(6, 7))
      .join(broadcast(model), Seq("priority"))
      .select(col("priority"),
        abs(col("o_totalprice") - col("mu")).as("res"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_cal"),
        percentile_approx(col("res"),
          lit((100 - alphaPct) / 100.0), lit(accuracy)).as("qhat"))
    val cov = s.filter(col("m") >= 8)
      .join(broadcast(model), Seq("priority"))
      .select(col("priority"),
        abs(col("o_totalprice") - col("mu")).as("res"))
      .join(broadcast(qhat.select(col("priority"), col("qhat"))),
        Seq("priority"), "left")
      .groupBy("priority")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("qhat").isNull || col("res") <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
    model.join(qhat, Seq("priority")).join(cov, Seq("priority"))
      .select(col("priority"), col("n_train"), col("n_cal"), col("n_test"),
        round(col("mu"), 6).as("mu"), round(col("qhat"), 6).as("qhat"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .orderBy("priority")
  }

  def conformalCoverage(orders: DataFrame, alphaPct: Int = 10): DataFrame = {
    val s = orders.select(col("o_orderkey"),
      col("o_orderpriority").as("priority"), col("o_totalprice"),
      (col("o_orderkey") % 10).as("m"))
    val model = s.filter(col("m") <= 5).groupBy("priority")
      .agg(count(lit(1)).as("n_train"),
        (sum(col("o_totalprice").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("mu"))
    val calRes = s.filter(col("m").isin(6, 7))
      .join(broadcast(model), Seq("priority"))
      .select(col("priority"), col("o_orderkey"),
        abs(col("o_totalprice") - col("mu")).as("res"))
    val nCal = calRes.groupBy("priority").agg(count(lit(1)).as("n_cal"))
    val ranked = calRes.withColumn("rk", row_number().over(
      Window.partitionBy("priority")
        .orderBy(col("res"), col("o_orderkey"))))
    val qhat = ranked.join(broadcast(nCal), Seq("priority"))
      .filter(col("rk") ===
        expr(s"CAST((${100 - alphaPct} * (n_cal + 1) + 99) DIV 100" +
          " AS BIGINT)"))
      .select(col("priority"), col("res").as("qhat"))
    val cov = s.filter(col("m") >= 8)
      .join(broadcast(model), Seq("priority"))
      .select(col("priority"),
        abs(col("o_totalprice") - col("mu")).as("res"))
      .join(broadcast(qhat), Seq("priority"), "left")
      .groupBy("priority")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("qhat").isNull || col("res") <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
    model.join(nCal, Seq("priority")).join(cov, Seq("priority"))
      .join(qhat, Seq("priority"), "left")
      .select(col("priority"), col("n_train"), col("n_cal"), col("n_test"),
        round(col("mu"), 6).as("mu"), round(col("qhat"), 6).as("qhat"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .orderBy("priority")
  }

  /** Cumulative-gains / lift table for the quality score — the
    * TARGETING readout beside [[aucReport]]'s rank quality and
    * [[calibrationReport]]'s probability quality: "if we keep the
    * top-k% by score, what share of the positives do we capture, and
    * how much better than random is that?" For each decile cut, the
    * smallest score-descending prefix covering ≥ k/10 of the corpus,
    * its positive recall, and lift = recall/(k/10).
    *
    * Scale shape: the corpus collapses to one row per DISTINCT integer
    * score (≤ 10 001 rows) exactly like the AUC report; the cumulative
    * window, the 10×|scores| cut probe, and the min_by argmin all run
    * on that bounded frame — the corpus shuffles once. Integer counts
    * end-to-end; ratios are portable rationals. */
  def gainsCurve(docs: DataFrame): DataFrame = {
    val per = scoredDocs(docs).groupBy("sri").agg(
      count(lit(1)).as("n_s"), sum(col("y")).as("pos_s"))
    val w = Window.orderBy(col("sri").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("cum_n", sum(col("n_s")).over(w))
      .withColumn("cum_pos", sum(col("pos_s")).over(w))
      .pinned() // bounded frame; probed by all ten cuts
    val tot = cum.agg(max(col("cum_n")).as("n_total"),
      max(col("cum_pos")).as("pos_total"))
    val deciles = docs.sparkSession.range(1, 11)
      .select(col("id").as("k"))
    deciles.crossJoin(broadcast(tot))
      .join(cum, col("cum_n") * 10 >= col("k") * col("n_total"))
      .groupBy("k", "n_total", "pos_total")
      .agg(min_by(struct(col("cum_n"), col("cum_pos")),
        col("cum_n")).as("cut"))
      .select(col("k").cast("bigint").as("decile"),
        col("cut.cum_n").as("n_kept"),
        col("cut.cum_pos").as("pos_kept"),
        r6(col("cut.cum_pos").cast("double") /
          col("pos_total").cast("double")).as("recall"),
        // lift against the ACTUAL kept share (the cut can overshoot
        // k/10 when scores tie): recall ÷ (n_kept/n_total)
        r6(col("cut.cum_pos").cast("double") *
          col("n_total").cast("double") /
          (col("pos_total").cast("double") *
            col("cut.cum_n").cast("double"))).as("lift"))
      .orderBy("decile")
  }

  /** Catalog coverage and popularity-bias report for the [[itemCF]]
    * recommender — the serving-side eval beside [[cfHitRate]]'s
    * accuracy: what share of the catalog ever appears in a top-k list
    * (low coverage = the recommender can only sell what already sells),
    * and how concentrated the recommendations are (the top-20 most
    * recommended items' share of all list slots — the popularity-bias
    * scalar). Rides the memoized neighbour frame (k rows per catalog
    * item); every aggregate after it is id-keyed and the top-20 cut is
    * bounded. */
  def recCoverage(spark: SparkSession, sfDir: String,
                  topK: Int = 5, headN: Int = 20): DataFrame = {
    val recs = itemCF(spark, sfDir, topK)
    val catalog = Tables.part(spark, sfDir)
      .agg(count(lit(1)).as("catalog_size"))
    val counts = recs.groupBy("other").agg(count(lit(1)).as("c"))
      .pinned()
    val head = counts.orderBy(col("c").desc, col("other")).limit(headN)
      .agg(sum(col("c")).as("head_c"))
    val tot = counts.agg(count(lit(1)).as("n_recommended"),
      sum(col("c")).as("total_slots"))
    val nSources = recs.select(col("item")).distinct()
      .agg(count(lit(1)).as("n_items_with_recs"))
    tot.crossJoin(broadcast(catalog))
      .crossJoin(broadcast(head))
      .crossJoin(broadcast(nSources))
      .select(col("catalog_size"), col("n_items_with_recs"),
        col("n_recommended"), col("total_slots"),
        r6(col("n_recommended").cast("double") /
          col("catalog_size").cast("double")).as("coverage"),
        r6(col("head_c").cast("double") /
          col("total_slots").cast("double")).as("head20_share"))
  }

  /** One ALS half-step (k = 2, ridge λ) for the implicit-feedback
    * user–item matrix — the matrix-factorization training step as pure
    * relational algebra, beside [[itemCF]]'s neighborhood model: fix
    * item factors (deterministic portable-hash init in [−1, 1], so any
    * engine regenerates them), then solve every user's regularized
    * normal equations (XᵀX + λI)w = Xᵀ1 IN CLOSED FORM — at k = 2 the
    * 2×2 inverse is a scalar formula over five per-user sums, so the
    * whole sweep is ONE distinct + ONE grouped aggregate over the
    * (user, item) purchase pairs; no per-user iteration, no solver.
    * This is exactly how distributed ALS scales: per-user solves are
    * embarrassingly parallel aggregates over co-partitioned ratings. */
  def alsUserStep(spark: SparkSession, sfDir: String,
                  lambda: Double = 0.1): DataFrame = {
    import graft.ext.TextFns.portableH60
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .distinct()
    def factor(tag: String): Column =
      ((portableH60(concat(col("item").cast("string"), lit(tag)))
        % 2001L).cast("double") - lit(1000.0)) / lit(1000.0)
    def dec(c: Column) = c.cast("decimal(28,12)")
    val m = pairs
      .select(col("cust"), factor(":f1").as("x1"), factor(":f2").as("x2"))
      .groupBy(col("cust"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("x1") * col("x1"))).cast("double").as("a"),
        sum(dec(col("x1") * col("x2"))).cast("double").as("b"),
        sum(dec(col("x2") * col("x2"))).cast("double").as("dd"),
        sum(dec(col("x1"))).cast("double").as("e"),
        sum(dec(col("x2"))).cast("double").as("f"))
    val det = (col("a") + lit(lambda)) * (col("dd") + lit(lambda)) -
      col("b") * col("b")
    m.select(col("cust"), col("n_items"),
      r6(((col("dd") + lit(lambda)) * col("e") - col("b") * col("f")) /
        det).as("w1"),
      r6(((col("a") + lit(lambda)) * col("f") - col("b") * col("e")) /
        det).as("w2"))
      .orderBy("cust")
  }

  /** Recommendation novelty — the third serving-side eval beside
    * [[cfHitRate]] (accuracy) and [[recCoverage]] (catalog reach): the
    * mean self-information −log₂ p(item) of the items the recommender
    * actually surfaces, against the corpus purchase entropy Σ p·(−log₂ p)
    * — which is exactly the expected self-information of recommending by
    * popularity sampling. A lift ≤ 0 means the top-k lists are MORE
    * popularity-concentrated than the purchase stream itself (the
    * filter-bubble smell); > 0 means the neighbour structure surfaces
    * tail items. Rides the memoized [[itemCF]] frame (k rows per catalog
    * item) and the shared partFreq census; both logs compute as
    * ln(T/n)/ln 2 so the oracle reproduces them bit-for-bit. Info terms
    * go double → DECIMAL for order-independent merges. */
  def recNovelty(spark: SparkSession, sfDir: String,
                 topK: Int = 5): DataFrame = {
    val recs = itemCF(spark, sfDir, topK).select(col("other"))
    val freq = graft.analytics.StarAnalytics.partFreq(spark, sfDir)
    val tot = freq.agg(sum(col("n_part")).as("t_rows"))
    val ln2 = lit(math.log(2.0))
    val recInfo = recs
      .join(freq.select(col("l_partkey").as("other"), col("n_part")),
        Seq("other"))
      .crossJoin(broadcast(tot))
      .select((log(col("t_rows").cast("double") /
        col("n_part").cast("double")) / ln2)
        .cast("decimal(28,12)").as("info"))
      .agg(count(lit(1)).as("n_slots"),
        sum(col("info")).cast("double").as("si"))
    val ent = freq.crossJoin(broadcast(tot))
      .select(((col("n_part").cast("double") /
          col("t_rows").cast("double")) *
        (log(col("t_rows").cast("double") /
          col("n_part").cast("double")) / ln2))
        .cast("decimal(28,12)").as("e"))
      .agg(sum(col("e")).cast("double").as("entropy"))
    val meanInfo = col("si") / col("n_slots").cast("double")
    recInfo.crossJoin(broadcast(ent))
      .select(col("n_slots"),
        r6(meanInfo).as("mean_rec_info"),
        r6(col("entropy")).as("purchase_entropy"),
        r6(meanInfo - col("entropy")).as("novelty_lift"))
  }

  /** Three deterministic heuristic "annotators" labeling each document
    * good/bad — the stand-ins a labeling pipeline's agreement audit runs
    * against before trusting a rater pool: (a) raw length, (b) whitespace
    * token count, (c) non-space character density. Each is a map-side
    * projection; thresholds sit near the corpus median so both classes
    * are populated. */
  import org.apache.spark.sql.Column

  private def raterLabels(docs: DataFrame): DataFrame = {
    val words = size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
    docs.select(col("doc_id"),
      (col("n_chars") >= 300).cast("int").as("ra"),
      (words >= 55).cast("int").as("rb"),
      (length(regexp_replace(col("text"), " ", "")) * 1000 >=
        length(col("text")) * 822).cast("int").as("rc"))
  }

  /** Cohen's kappa between annotators (a) and (b) of [[raterLabels]] —
    * chance-corrected inter-rater agreement, the acceptance gate on a
    * two-rater labeling job. The whole statistic is ONE map-side-
    * collapsing aggregate to the 2×2 confusion counts (a single row);
    * po/pe/kappa are scalar projections of exact integers, so every
    * output is a portable rational. */
  def cohenKappa(docs: DataFrame): DataFrame = {
    val l = raterLabels(docs)
    def cell(a: Int, b: Int) =
      sum(when(col("ra") === a && col("rb") === b, 1L).otherwise(0L))
    val m = l.agg(count(lit(1)).as("n"),
      cell(1, 1).as("n11"), cell(0, 0).as("n00"),
      cell(1, 0).as("n10"), cell(0, 1).as("n01"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n"))
    val po = (d(col("n11")) + d(col("n00"))) / n
    val pe = ((d(col("n11")) + d(col("n10"))) *
        (d(col("n11")) + d(col("n01"))) +
      (d(col("n00")) + d(col("n01"))) *
        (d(col("n00")) + d(col("n10")))) / (n * n)
    m.select(col("n").as("n_docs"), col("n11"), col("n00"),
      col("n10"), col("n01"),
      r6(po).as("p_observed"), r6(pe).as("p_expected"),
      r6((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Fleiss' kappa across all three [[raterLabels]] annotators (m = 3
    * raters, 2 categories) — the multi-rater generalization a labeling
    * pool is audited with. Per-doc agreement Pᵢ = (n₁² + n₀² − m) /
    * (m(m−1)) folds into integer sums (Σn₁, Σ(n₁²+n₀²)) in the same ONE
    * map-side-collapsing aggregate; P̄, Pₑ, and kappa are scalar
    * projections of those exact integers — portable rationals
    * throughout, nothing but a one-row frame after the scan. */
  def fleissKappa(docs: DataFrame): DataFrame = {
    val l = raterLabels(docs)
      .withColumn("n1", (col("ra") + col("rb") + col("rc")).cast("long"))
    val m = l.agg(count(lit(1)).as("n"), sum(col("n1")).as("s1"),
      sum(col("n1") * col("n1") +
        (lit(3L) - col("n1")) * (lit(3L) - col("n1"))).as("sq"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n"))
    val pBar = (d(col("sq")) - lit(3.0) * n) / (lit(6.0) * n)
    val p1 = d(col("s1")) / (lit(3.0) * n)
    val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
    m.select(col("n").as("n_docs"), lit(3L).as("n_raters"),
      r6(p1).as("p_positive"),
      r6(pBar).as("p_bar"), r6(pe).as("p_expected"),
      r6((pBar - pe) / (lit(1.0) - pe)).as("kappa"))
  }
}
