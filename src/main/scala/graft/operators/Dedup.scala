package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A5: keyed dedup, keep-latest (reference: `sort_values("ts")
  * .drop_duplicates("event_id", keep="last")`, transform.py:72-75).
  *
  * Spark-first shape: a single hash-partitioned window — ONE shuffle on the
  * dedup key, partial nothing, no global sort (the reference's global
  * `sort_values` is unnecessary; only per-key order matters). At 100 TB this
  * is the minimal-communication form: rows move once, to their key's
  * partition, and AQE coalesces/splits skewed key ranges.
  *
  * Ties on the order column are broken by `tiebreak` so results are
  * deterministic (pandas keeps last-read among equal ts — SURVEY.md §7.6.3;
  * we make that explicit instead of relying on input order).
  */
object Dedup {

  /** Deterministic tiebreak: 64-bit hash of the whole row payload. Unlike
    * `monotonically_increasing_id` (partition-order dependent, so the same
    * duplicate pair can resolve differently per run), this is stable across
    * partitionings and re-runs — keep-latest becomes deterministic replay,
    * which is what makes the keyed upserts idempotent (load.py:199-217). */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string")): _*)

  /** Keep the row with the greatest (orderBy, tiebreak) per key group. */
  def keepLatest(df: DataFrame, keys: Seq[String], orderBy: Column,
                 tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.desc, tiebreak.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
