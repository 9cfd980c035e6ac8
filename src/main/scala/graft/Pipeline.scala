package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.analytics.EventAnalytics
import graft.ingest.JsonlIngest
import graft.transform.CleanEvents
import graft.warehouse.StarWarehouse
import graft.export.Sinks
import graft.operators.Quarantine

/** End-to-end ETL orchestration — the analog of the reference's
  * `python -m pipeline.run_pipeline` (run_pipeline.py:29-122; lifecycle
  * traced in SURVEY.md §3.1): ingest → transform → quarantine union →
  * star-schema load → analytics exports → quality report.
  *
  * The reference runs these strictly one after another. Here ingest and
  * transform build one lazy DAG whose `cleaned` output is pinned, so the
  * transform's metric actions (concurrent jobs) and the four load steps
  * that read it share one computed copy. The actions of the load run as a
  * small dependency graph: every step whose inputs are ready runs at the
  * same time, through [[Par.all]].
  *  - Stages 1 and 2 are one `StarWarehouse.load`, one commit: every dim
  *    (ONE dim_dates upsert over the events' and the intl sales' dates),
  *    then fact_events and fact_international_sales, each reading its dims
  *    back from stage 1. The quarantine count runs beside it.
  *  - Stage 3, after the commit: the quarantine sink, the six CSV exports
  *    and the two fact counts. A failed load therefore leaves the export
  *    root exactly as the previous run left it.
  * Write-hazard rule: no two concurrent steps write one path, and no step
  * reads a path a concurrent step writes. So each table has exactly one
  * writer per batch (dim_dates is the one table both facts need, hence a
  * single upsert), and the exports, which read the warehouse, start only
  * after the load has committed.
  *
  * The batch's pins (the transform's `cleaned`, the intl fact merge's
  * checkpoint) live exactly as long as the batch: `run` releases every RDD
  * persisted since it began in a `finally`, after stage 3 has returned, so
  * no job that reads a pin is still running when its blocks go.
  *
  * Idempotence comes from keyed upserts + deterministic ids, exactly as in
  * the reference (§2.9) — run the pipeline twice over the same input and
  * the warehouse is unchanged (tested in PipelineSpec).
  */
object Pipeline {

  case class RunReport(metrics: Map[String, Long])

  /** A step that writes and reports nothing. */
  private def write(body: => Unit): () => Map[String, Long] =
    () => { body; Map.empty }

  /** A step that reports one count under `key`. */
  private def countAs(key: String, df: => DataFrame): () => Map[String, Long] =
    () => Map(key -> df.count())

  def run(spark: SparkSession, eventsJsonl: String, usersCsv: String,
          warehouseRoot: String, exportRoot: String,
          intlJsonl: Option[String] = None): RunReport = {
    val pins = Shared.persisted(spark)
    try runBatch(spark, eventsJsonl, usersCsv, warehouseRoot, exportRoot,
      intlJsonl)
    finally Shared.releasePins(spark, pins)
  }

  private def runBatch(spark: SparkSession, eventsJsonl: String,
                       usersCsv: String, warehouseRoot: String,
                       exportRoot: String,
                       intlJsonl: Option[String]): RunReport = {
    // 1. ingest (S1–S4)
    val (rawEvents, badIngest) = JsonlIngest.readEvents(spark, eventsJsonl)
    val users = JsonlIngest.readUsersCsv(spark, usersCsv)

    // 2. transform (G1–G5, F1, A5, J1, A7)
    val t = CleanEvents.transform(rawEvents, users)

    // 3. quarantine union (U1) → JSONL (K2)
    val allBad = Quarantine.unionQuarantines(Seq(
      badIngest,
      t.bad.select(to_json(struct(t.bad.columns.map(col).toSeq: _*))
        .as("raw"), col("reason"))))

    // optional international-sales branch (S6; run_pipeline.py:73-79):
    // load the canonical intl JSONL into fact_international_sales +
    // dim_customers/dim_products when the file exists, else skip silently.
    val intl = intlJsonl.filter(existsPath(spark, _)).toSeq
      .map(JsonlIngest.readInternationalSales(spark, _))

    // 4. load (D1/D2/A8, J4): stages 1 and 2, one commit
    val wh = new StarWarehouse(spark, warehouseRoot)
    val loaded = Par.all(write(wh.load(Some(t.cleaned), intl)),
      countAs("bad_records_total", allBad))

    // 5. stage 3: analytics read side (A1–A4) over the warehouse → CSV (K1)
    val fact = wh.read("fact_events")
    val dimTypes = wh.read("dim_event_types")
    val joined = fact.join(broadcast(dimTypes), Seq("event_type_id"))
      .withColumnRenamed("event", "event_type")
      .withColumn("user_id", col("user_id").cast("string"))
      .withColumn("value", col("amount"))

    // international revenue export with the reference's missing-table
    // fallback (analytics.py:55-68, 139-142): if the intl fact is absent,
    // still export an empty 2-column CSV.
    val intlRev =
      if (wh.tableExists("fact_international_sales"))
        EventAnalytics.substrRevenue(
            wh.read("fact_international_sales"),
            col("ts"), col("gross_amt"))
          .withColumnRenamed("revenue", "intl_revenue")
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL("event_date STRING, intl_revenue DOUBLE"))

    // fact preview export (run_pipeline.py:82-102): ts-ordered top-50
    // with user attributes. Scale shape: TakeOrderedAndProject the fact
    // FIRST, then semi-reduce dim_users to just the previewed users and
    // broadcast that — dim_users (user-cardinality) is never shuffled or
    // broadcast whole, only scanned.
    val pv = fact.orderBy(col("ts"), col("event_id")).limit(50)
    val dimUsers = wh.read("dim_users")
    val relevantUsers = dimUsers.join(
      broadcast(pv.select("user_id").distinct()), Seq("user_id"), "left_semi")
    val preview = pv.join(broadcast(relevantUsers), Seq("user_id"), "left")
      .select("event_id", "ts", "user_id", "event_type_id", "amount",
        "event_date", "event_hour", "country", "signup_source")
      .orderBy(col("ts"), col("event_id"))

    def csv(name: String, df: => DataFrame) =
      write(Sinks.writeCsv(df, s"$exportRoot/$name"))
    val exported = Par.all(Seq(
      write(JsonlIngest.writeBadRecords(allBad, s"$exportRoot/bad_records")),
      csv("dau", EventAnalytics.dau(joined)),
      csv("revenue", EventAnalytics.revenue(joined)),
      csv("event_counts", EventAnalytics.eventCounts(joined)),
      csv("funnel", EventAnalytics.funnel(joined)),
      csv("international_revenue", intlRev),
      csv("fact_events_preview", preview),
      countAs("fact_events_rows", fact)) ++
      Option.when(intl.nonEmpty)(countAs("intl_sales_rows",
        wh.read("fact_international_sales"))): _*)

    // 6. quality report (K3)
    val metrics = (t.metrics +: (loaded ++ exported)).reduce(_ ++ _)
    Sinks.writeQualityReport(metrics, s"$exportRoot/quality_report.json")
    RunReport(metrics)
  }

  private def existsPath(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }
}
