package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1–S4: validated ingestion with quarantine (reference:
  * pipeline/ingest.py:28-78).
  *
  * The reference reads JSONL line-by-line, quarantining (a) unparseable
  * lines, (b) objects missing required fields, (c) unparseable timestamps —
  * each with a reason. Spark-first shape: ONE `spark.read.text` scan, then
  * `from_json` + columnar predicates split good/bad — the scan parallelizes
  * per file-split, nothing is row-looped, and the bad-record stream carries
  * the raw line exactly like the reference's `_raw` (ingest.py:48).
  */
object JsonlIngest {

  /** Event schema for the reference's events.jsonl (FIXTURES.md §A). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("ts", StringType),       // parsed strictly in a second step
    StructField("event", StringType),
    StructField("user_id", StringType),
    StructField("amount", StringType),   // coerced via try_cast (G4)
    StructField("page", StringType)))    // country/signup_source come from
                                         // the users dim (J1), not events

  val RequiredFields: Seq[String] = Seq("event_id", "ts", "event")

  /** Read events JSONL → (good, bad). Bad rows carry (raw, reason):
    *  - `unparseable_json`  — from_json returned null (ingest.py:45-49)
    *  - `missing_fields:a,b` — required fields null (ingest.py:51-55)
    *  - `invalid_timestamp` — strict ts parse failed (ingest.py:58-65)
    */
  def readEvents(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val raw = spark.read.text(path).withColumnRenamed("value", "raw")
      .filter(trim(col("raw")) =!= "")
    val parsed = raw.withColumn("j",
      from_json(col("raw"), EventSchema, Map("mode" -> "PERMISSIVE")))
    // from_json yields an all-null struct for syntactically-broken lines;
    // a line whose required fields are ALL null is indistinguishable from
    // unparseable, which matches the reference's precedence (parse error
    // is checked first, ingest.py:45-55).
    val unparseable = col("j").isNull ||
      RequiredFields.map(f => col("j").getField(f).isNull).reduce(_ && _)
    val missing = array_compact(array(RequiredFields.map(f =>
      when(col("j").getField(f).isNull, lit(f))): _*))
    val tsTry = try_to_timestamp(col("j.ts"))
    val reason = when(unparseable, lit("unparseable_json"))
      .when(size(missing) > 0,
        concat(lit("missing_fields:"), concat_ws(",", missing)))
      .when(tsTry.isNull, lit("invalid_timestamp"))
    val withReason = parsed.withColumn("reason", reason)
    val bad = withReason.filter(col("reason").isNotNull)
      .select(col("raw"), col("reason"))
    val good = withReason.filter(col("reason").isNull)
      .select(
        col("j.event_id").as("event_id"),
        tsTry.as("ts"),
        col("j.event").as("event"),
        col("j.user_id").as("user_id"),
        col("j.amount").try_cast("double").as("amount"),
        col("j.page").as("page"))
    (good, bad)
  }

  /** S4: users CSV (header, user_id kept string per V2 semantics —
    * transform.py:99-101). */
  def readUsersCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(
        trim(col("user_id")).as("user_id"),
        col("country"), col("signup_source"))

  /** S6: canonical international-sales JSONL — the Kaggle loader's staging
    * output (kaggle_amazon_sales_loader.py:234-246), re-read by the pipeline
    * (run_pipeline.py:73-76). Records arrive already normalized, so this is
    * a plain schema-on-read scan; ts arrives as ISO text and becomes a
    * proper timestamp here (the warehouse version column). */
  val IntlSalesSchema: StructType = StructType(Seq(
    StructField("sale_id", StringType),
    StructField("ts", StringType),
    StructField("date_key", StringType),
    StructField("customer", StringType),
    StructField("sku", StringType),
    StructField("pcs", IntegerType),
    StructField("rate", DoubleType),
    StructField("gross_amt", DoubleType),
    StructField("currency", StringType),
    StructField("source_dataset", StringType)))

  def readInternationalSales(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(IntlSalesSchema).json(path)
      .withColumn("ts", to_timestamp(col("ts")))

  /** K2: bad-record JSONL sink (ingest.py:81-86). */
  def writeBadRecords(bad: DataFrame, path: String): Unit =
    bad.select(to_json(struct(bad.columns.map(col).toSeq: _*)).as("value"))
      .write.mode("overwrite").text(path)
}
