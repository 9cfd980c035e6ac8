package graft

import org.apache.spark.sql.DataFrame

/** Central switch for the lazy localCheckpoint "pins" that truncate plan
  * lineage where a frame is read by several downstream branches.
  *
  * Default (`spark.graft.pins` unset or `on`): identical to
  * `df.localCheckpoint(eager = false)`. With AQE on, building the pin
  * already runs every shuffle stage below it (the adaptive plan executes
  * its query stages to produce the pin's RDD); only the stage above the
  * last exchange waits for the first consumer job, and later branches
  * read the stored blocks. With AQE off nothing runs before that job.
  *
  * `spark.graft.pins=off` is a PLAN-DUMP DEBUG knob only (set by
  * tools/Explain): a checkpointed frame explains as `Scan ExistingRDD`,
  * which hides every upstream scan, join strategy and PushedFilters from
  * the evidence dumps. With pins off the full logical lineage survives so
  * `.explain("formatted")` shows the query end to end. It must never be
  * set for an EXECUTING run: without the pin a multi-branch plan
  * re-evaluates its shared subtree per branch (slower), and pins guarding
  * nondeterministic ids (GlobalRank's monotonically_increasing_id frames,
  * Upsert's spark_partition_id frame) stay hard localCheckpoints precisely
  * because two branches must read ONE materialization — those sites do not
  * route through this object.
  */
object Pins {
  private def on(df: DataFrame): Boolean =
    !df.sparkSession.conf.getOption("spark.graft.pins").contains("off")

  implicit final class PinnedFrame(private val df: DataFrame)
      extends AnyVal {
    /** Lazy checkpoint pin unless `spark.graft.pins=off` (see [[Pins]]). */
    def pinned(): DataFrame =
      if (Pins.on(df)) df.localCheckpoint(false) else df
  }
}
