package graft.transform

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Par
import graft.Pins._
import graft.functions.CleanFns._
import graft.operators.{Dedup, Quarantine}

/** The reference's transform layer in one lazy DAG
  * (pipeline/transform.py:11-120): normalize event names (G1+G2), whitelist
  * split (F1), dedup keep-latest per event_id (A5), scrub user ids (G3),
  * coerce amounts (G4), derive date/hour (G5), left-join users (J1), and a
  * single-pass metrics map (A7).
  *
  * Shuffle budget: exactly one (the dedup window on event_id). The users
  * join broadcasts; everything else is projections and filter splits over
  * the same scan.
  *
  * `cleaned` is pinned ([[graft.Pins]]): the quality metrics and every load
  * step that reads it (dim_users, dim_event_types, dim_dates, fact_events)
  * share one computed copy instead of each re-running the text scan, the
  * JSON parse, the dedup shuffle and the users join. The pin is the
  * caller's to release once its last reader has returned
  * (`graft.Pipeline.run` does, through `graft.Shared.releasePins`).
  */
object CleanEvents {

  import org.apache.spark.sql.types._

  val AllowedEvents: Seq[String] = Seq("pageview", "signup", "purchase")

  /** Columns transform consumes; inputs missing any of them get typed-null
    * patches (the reference's defensive `if "col" in df.columns` idiom,
    * transform.py:34-50, centralized via ensureColumns). */
  private val RequiredEventColumns = StructType(Seq(
    StructField("event_id", StringType),
    StructField("ts", TimestampType),
    StructField("event", StringType),
    StructField("user_id", StringType),
    StructField("amount", StringType)))
  private val RequiredUserColumns = StructType(Seq(
    StructField("user_id", StringType),
    StructField("country", StringType),
    StructField("signup_source", StringType)))

  case class TransformResult(cleaned: DataFrame, bad: DataFrame,
                             metrics: Map[String, Long])

  def transform(events: DataFrame, users: DataFrame): TransformResult = {
    val normalized = ensureColumns(events, RequiredEventColumns)
      .withColumn("event", normalizeEventName(col("event")))
    val (kept, badType) = Quarantine.whitelistSplit(normalized, "event",
      AllowedEvents)
    val deduped = Dedup.keepLatest(kept, Seq("event_id"), col("ts"),
      Dedup.rowHash(kept))
    val cleaned = deduped
      .withColumn("user_id", scrubNullish(col("user_id")))
      .withColumn("amount", tryDouble(col("amount")))
      .withColumn("event_date", eventDate(col("ts")))
      .withColumn("event_hour", eventHour(col("ts")))
      .join(broadcast(ensureColumns(users, RequiredUserColumns)
        .select(trim(col("user_id")).as("user_id"),
          col("country"), col("signup_source"))), Seq("user_id"), "left")
      .pinned()
    // A7: one aggregate pass for the quality metrics (transform.py:104-119),
    // run as a concurrent Spark job beside the two input counts
    val metrics = Par.all(
      () => {
        val m = cleaned.agg(
          count(lit(1)).as("rows_out"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
          countDistinct(col("user_id")).as("distinct_users")).collect()(0)
        Map("rows_out" -> m.getLong(0), "null_user_rows" -> m.getLong(1),
          "distinct_users" -> m.getLong(2))
      },
      () => Map("rows_in" -> events.count()),
      () => Map("invalid_event_type" -> badType.count())).reduce(_ ++ _)
    TransformResult(cleaned, badType, metrics)
  }
}
