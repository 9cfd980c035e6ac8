package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins._

/** Distributed global-ordering primitives — the scale-safe replacement
  * for `Window.orderBy(...)` with an EMPTY partitionSpec, which funnels
  * the whole frame through one task (the anti-pattern PlanLintSpec's
  * measured boundedness lint exists to catch; this operator is what its
  * offenders migrate to).
  *
  * Shape (the classic two-pass total-order rank):
  *  1. `repartitionByRange(sortCols)` — Spark's range exchange gives
  *     partition i strictly-lower keys than partition i+1 (sampled
  *     boundaries; result CORRECTNESS never depends on where the
  *     boundaries land, only task sizing does).
  *  2. rank/scan LOCALLY inside each range partition.
  *  3. add per-partition offsets (counts / totals of all earlier
  *     partitions) — a ≤`numPartitions`-row frame, aggregated then
  *     broadcast back. The offset window is single-partition but
  *     grouping-aggregate-bounded: ≤ one row per shuffle partition.
  *
  * [[withRowNumber]] avoids even the local window: after
  * `sortWithinPartitions`, `monotonically_increasing_id()` encodes
  * (partition id << 33 | row-index-in-partition) in ONE stage with no
  * further shuffle — rank = offset(pid) + local index + 1. The id
  * expression is nondeterministic-marked, so Catalyst will not reorder
  * it across the sort. [[withPrefixSum]] needs a genuine running sum,
  * so it pays one extra hash exchange on the partition id (each range
  * partition lands in one task — same parallelism, same skew profile
  * as the range exchange itself).
  *
  * `sortCols` MUST be a total order (callers append a unique key as
  * tiebreaker) — otherwise ranks among ties depend on partition-local
  * input order. Descending columns (`col.desc`) are honored by both
  * the range exchange and the local sorts.
  */
object GlobalRank {

  private val LocalMask = (1L << 33) - 1

  /** Appends `out` = the 1-based global row number of the total order
    * `sortCols`. Two jobs, one corpus shuffle, no single-partition
    * corpus window. */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
                    numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // The id-stamped frame feeds TWO plan branches (offset aggregate +
    // final join). monotonically_increasing_id is nondeterministic and
    // partition-id assignment depends on sampled range boundaries, so a
    // re-evaluation under a future AQE/sampling change could hand the
    // two branches DIFFERENT ids. localCheckpoint pins one
    // materialization both branches read (same pattern as the
    // InferenceAnalytics shared rank walks; with AQE on, its range
    // shuffle runs at construction, see graft.Pins). Routed through
    // Pins.pinned() so plan dumps can see through it — but unlike the
    // plain plan-size pins, THIS pin is correctness-load-bearing under
    // execution; `spark.graft.pins=off` is explain-only by contract
    // (see graft.Pins).
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__gr_mid", monotonically_increasing_id())
      .pinned()
    val offs = sorted
      .groupBy(shiftright(col("__gr_mid"), 33).as("__gr_pid"))
      .agg(count(lit(1)).as("__gr_cnt"))
      .withColumn("__gr_off",
        coalesce(sum(col("__gr_cnt")).over(
          Window.orderBy(col("__gr_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gr_pid"), col("__gr_off"))
    sorted.join(broadcast(offs),
        shiftright(col("__gr_mid"), 33) === col("__gr_pid"))
      .withColumn(out, (col("__gr_off") +
        col("__gr_mid").bitwiseAND(lit(LocalMask)) + lit(1L))
        .cast("long"))
      .drop("__gr_pid", "__gr_mid", "__gr_off")
  }

  /** Appends `out` = the 1-based row number of the total order
    * `sortCols` WITHIN each `grpCols` group, plus (when `outCount` is
    * nonempty) the group's total row count — the scale-safe replacement
    * for `row_number()/percent_rank()/cume_dist()` over
    * `Window.partitionBy(lowNdvKey)` when the key's NDV sits below the
    * cluster parallelism (the shape PlanLintSpec's concentration-share
    * lint flags): the grouped window funnels a constant corpus fraction
    * through ONE task, while this form range-exchanges on
    * (grpCols ++ sortCols) so a hot group spans as many tasks as its
    * size demands. Per-(group, partition) counts — a
    * ≤ |groups|·numPartitions-row frame — are cumulated by a window
    * partitioned on the group key over that BOUNDED frame and broadcast
    * back; within a range partition the local sort makes each group's
    * rows contiguous, so the in-group index is the partition-local id
    * minus the group's first local id there. Same two-branch
    * nondeterministic-id hazard as [[withRowNumber]], same lazy
    * localCheckpoint pin. `sortCols` must total-order rows within a
    * group (callers append a unique key); null group keys form one
    * group, exactly like `Window.partitionBy` (the offsets join is
    * null-safe). */
  def withGroupRowNumber(df: DataFrame, grpCols: Seq[Column],
                         sortCols: Seq[Column], out: String,
                         outCount: String = "",
                         numPartitions: Int = 0): DataFrame = {
    require(grpCols.nonEmpty, "use withRowNumber for an empty group key")
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val gNames = grpCols.indices.map(i => s"__gr_g$i")
    val stamped = grpCols.zip(gNames).foldLeft(df) {
      case (d, (c, nm)) => d.withColumn(nm, c)
    }
    val keys = gNames.map(col) ++ sortCols
    val sorted = stamped.repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__gr_mid", monotonically_increasing_id())
      .withColumn("__gr_pid", shiftright(col("__gr_mid"), 33))
      .withColumn("__gr_loc", col("__gr_mid").bitwiseAND(lit(LocalMask)))
      .pinned()
    val offs = sorted
      .groupBy(gNames.map(col) :+ col("__gr_pid"): _*)
      .agg(count(lit(1)).as("__gr_cnt"), min(col("__gr_loc")).as("__gr_base"))
      .withColumn("__gr_off",
        coalesce(sum(col("__gr_cnt")).over(
          Window.partitionBy(gNames.map(col): _*).orderBy(col("__gr_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__gr_tot",
        sum(col("__gr_cnt")).over(Window.partitionBy(gNames.map(col): _*)))
      // fresh exprIds via aliases: offs descends from `sorted`, so the
      // group/pid attributes would otherwise be ambiguous in the join
      .select(gNames.map(nm => col(nm).as(s"${nm}_o")) ++ Seq(
        col("__gr_pid").as("__gr_pid_o"), col("__gr_off"),
        col("__gr_base"), col("__gr_tot")): _*)
    val cond = (gNames.map(nm => col(nm) <=> col(s"${nm}_o")) :+
      (col("__gr_pid") === col("__gr_pid_o"))).reduce(_ && _)
    val joined = sorted.join(broadcast(offs), cond)
      .withColumn(out, (col("__gr_off") + col("__gr_loc") -
        col("__gr_base") + lit(1L)).cast("long"))
    val withCount = if (outCount.nonEmpty)
      joined.withColumn(outCount, col("__gr_tot")) else joined
    withCount.drop(gNames ++ gNames.map(nm => s"${nm}_o") ++ Seq(
      "__gr_mid", "__gr_pid", "__gr_loc", "__gr_pid_o", "__gr_off",
      "__gr_base", "__gr_tot"): _*)
  }

  /** Appends `out` = the INCLUSIVE running sum of `valueCol` in the
    * total order `sortCols` (the distributed form of
    * `sum(v).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * 0))`). Nulls in `valueCol` contribute nothing, matching the window
    * form: the result is null ONLY while the entire global prefix is
    * null (sum-over-empty), never merely because one range partition's
    * local prefix happens to be all-null. */
  /** `outTotal` (optional): also append the GRAND total of `valueCol` to
    * every row — it rides the same ≤numPartitions-row offsets frame (an
    * unpartitioned window over per-partition totals, bounded by the
    * partition count), so callers that need "prefix sum + total" (ABC
    * census shares, Pareto cutoffs) skip a separate whole-frame aggregate
    * and its scalar cross join. Decimal addition is exact, so the
    * regrouped total is bit-equal to a direct sum(valueCol). */
  def withPrefixSum(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                    out: String, numPartitions: Int = 0,
                    outTotal: String = ""): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // Same two-branch hazard as withRowNumber: spark_partition_id()
    // must agree between the local-scan branch and the offsets branch,
    // so the pid-stamped frame is pinned with a lazy localCheckpoint.
    val ranged = df.repartitionByRange(n, sortCols: _*)
      .withColumn("__gr_pid", spark_partition_id())
      .pinned()
    val wLocal = Window.partitionBy(col("__gr_pid"))
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = ranged.withColumn("__gr_lc", sum(valueCol).over(wLocal))
    val offs0 = ranged.groupBy(col("__gr_pid"))
      .agg(sum(valueCol).as("__gr_tot"))
      .withColumn("__gr_off",
        sum(col("__gr_tot")).over(Window.orderBy(col("__gr_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)))
    val offs = if (outTotal.isEmpty)
      offs0.select(col("__gr_pid"), col("__gr_off"))
    else offs0
      .withColumn(outTotal,
        sum(col("__gr_tot")).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__gr_pid"), col("__gr_off"), col(outTotal))
    // the final addition must preserve the EXACT type a single window
    // sum would produce: decimal(38,s) + decimal(38,s) overflows
    // precision 38 and Spark silently drops to scale s-1 — so decimal
    // addends are first narrowed (losslessly, 25 integer digits of
    // headroom) to decimal(37,s) and the result cast back
    val lcType = local.schema(local.schema.fieldIndex("__gr_lc")).dataType
    val (lcC, offC, zero) = lcType match {
      case dt: org.apache.spark.sql.types.DecimalType =>
        val t = org.apache.spark.sql.types.DecimalType(37, dt.scale)
        (col("__gr_lc").cast(t), col("__gr_off").cast(t), lit(0).cast(t))
      case _ => (col("__gr_lc"), col("__gr_off"), lit(0))
    }
    // Null iff the ENTIRE global prefix is null (lc and off both null);
    // a non-null offset must survive an all-null local prefix — the
    // single-partition window form returns the earlier partitions'
    // total there, not null.
    local.join(broadcast(offs), Seq("__gr_pid"))
      .withColumn(out,
        when(lcC.isNull && offC.isNull, lit(null))
          .otherwise(coalesce(lcC, zero) + coalesce(offC, zero))
          .cast(lcType))
      .drop("__gr_pid", "__gr_lc", "__gr_off")
  }
}
