package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CleanFns._
import graft.operators.{Dedup, Quarantine, Upsert}
import graft.analytics.{EventAnalytics, InferenceAnalytics, StarAnalytics, StatsAnalytics}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with DuckDB oracle SQL over the same fixture tables.
  *
  * Conventions (so the driver's column-sorted value-hash matches):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - timestamps exported as microsecond strings (`tsMicros` ↔ strftime %f);
  *  - doubles rounded half-up at 6 decimals (`CleanFns.r6` ↔
  *    `FLOOR(x * 1000000.0 + 0.5) / 1000000.0`);
  *  - derived integers cast to bigint on both sides (DuckDB year()/
  *    row_number() are BIGINT; DuckDB SUM(int) is HUGEINT → CAST in SQL);
  *  - deterministic ORDER BY everywhere, with tie-breaking keys.
  */
object SparkEntry {

  import OracleCtes.{AdstockDecays, inclCands, fdCands}

  /** Event-type whitelist after normalization (reference whitelist
    * transform.py:8 adapted to the fixture's type domain — `error` is the
    * quarantined type, FIXTURES.md §B). */
  val AllowedRawTypes: Seq[String] = Seq("signup", "purchase", "view", "click")

  /** Scratch root for the sink-roundtrip / warehouse queries. Relative
    * to the JVM's working dir by default; `SPARK_GRAFT_TMP` overrides it
    * so CONCURRENT Verify processes (the partition-invariance campaign
    * runs one per execution shape) never collide on each other's
    * half-written files. */
  private[graft] val scratchRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TMP", "target/tmp")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    StarAnalytics.regionRevenue(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A1–A4, G5/G6, A7: the reference's analytics contract ----
    "q_dau" -> ((s, d) => EventAnalytics.dau(Tables.events(s, d))),
    "q_revenue" -> ((s, d) => EventAnalytics.revenue(Tables.events(s, d))),
    "q_event_counts" -> ((s, d) =>
      EventAnalytics.eventCounts(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => EventAnalytics.funnel(Tables.events(s, d))),
    "q_intl_revenue" -> ((s, d) =>
      EventAnalytics.substrRevenue(Tables.orders(s, d),
        col("o_orderdate"), col("o_totalprice"))),
    "q_quality_metrics" -> ((s, d) =>
      EventAnalytics.qualityMetrics(Tables.events(s, d), AllowedRawTypes)),
    "q_rolling_revenue" -> ((s, d) =>
      EventAnalytics.rollingRevenue(Tables.events(s, d))),
    "q_revenue_rollup" -> ((s, d) =>
      EventAnalytics.revenueRollup(Tables.events(s, d))),
    "q_value_percentiles" -> ((s, d) =>
      EventAnalytics.valuePercentiles(Tables.events(s, d))),
    // Sketch-based scale variants. q_dau_approx ships the AUDIT form: the
    // exact side hash-checks against DuckDB and the sketch estimate is
    // reduced to a deterministic bound flag (raw estimates stay
    // spec-bounded — no cross-engine HLL oracle exists).
    "q_dau_approx" -> ((s, d) =>
      EventAnalytics.dauApproxAudit(Tables.events(s, d))),
    "q_value_percentiles_approx" -> ((s, d) =>
      EventAnalytics.valuePercentilesAudit(Tables.events(s, d))),
    // Set ops beyond the reference's union: EXCEPT/INTERSECT over distinct
    // user sets (both plan as aggregate-free left-anti / left-semi joins on
    // the distinct sets — one shuffle each side).
    "q_signup_no_purchase" -> ((s, d) => {
      // (user, day) granularity: signup days with no same-day purchase.
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        .withColumn("event_date",
          graft.functions.CleanFns.eventDate(col("ts")))
      ev.filter(col("event_type") === "signup")
        .select("user_id", "event_date")
        .except(ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_date"))
        .orderBy("user_id", "event_date")
    }),
    "q_signup_and_purchase" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      ev.filter(col("event_type") === "signup").select("user_id")
        .intersect(ev.filter(col("event_type") === "purchase")
          .select("user_id"))
        .orderBy("user_id")
    }),

    // PIVOT: long→wide conditional aggregation. The value list is given
    // explicitly — omitting it costs an extra distinct pass over the data
    // AND makes the output schema data-dependent (schema drift at scale).
    "q_event_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("event_date", graft.functions.CleanFns.eventDate(col("ts")))
        .groupBy("event_date")
        .pivot("event_type", Seq("click", "error", "purchase",
          "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("event_date")),

    // Arbitrary GROUPING SETS (per-day and per-type marginals + grand
    // total, no (day,type) leaves) — via the SQL surface; the DataFrame
    // API only exposes rollup/cube. Same Expand-based plan as rollup.
    "q_grouping_sets" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_gs")
      s.sql("""
        WITH e AS (
          SELECT date_format(ts, 'yyyy-MM-dd') AS event_date, event_type,
            coalesce(value, 0) AS v
          FROM events_gs)
        SELECT event_date, event_type, round(sum(v), 2) AS revenue,
          count(*) AS n_events,
          CAST(grouping(event_date) * 2 + grouping(event_type) AS BIGINT)
            AS gid
        FROM e
        GROUP BY GROUPING SETS ((event_date), (event_type), ())
        ORDER BY event_date ASC NULLS FIRST, event_type ASC NULLS FIRST""")
    }),
    "q_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          (grouping(col("o_orderpriority")) * 2 +
            grouping(col("o_orderstatus"))).cast("bigint").as("gid"))
        .orderBy(asc_nulls_first("o_orderpriority"),
          asc_nulls_first("o_orderstatus"))),
    "q_event_gaps" -> ((s, d) =>
      EventAnalytics.eventGaps(Tables.events(s, d))
        .select(col("user_id"), col("event_id"),
          tsMicros(col("ts")).as("ts"), col("gap_seconds"))
        .orderBy("user_id", "event_id")),
    "q_running_revenue" -> ((s, d) =>
      EventAnalytics.runningUserRevenue(Tables.events(s, d))
        .select(col("user_id"), col("event_id"),
          tsMicros(col("ts")).as("ts"), col("value"), col("cum_value"))
        .orderBy("user_id", "event_id")),

    // ---- A5: keyed dedup keep-latest ----
    "q_dedup_latest" -> ((s, d) =>
      Dedup.keepLatest(Tables.events(s, d), Seq("user_id", "event_type"),
          col("ts"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          tsMicros(col("ts")).as("ts"), col("value"))
        .orderBy("user_id", "event_type")),

    // ---- F1/S2: validation + quarantine split; F5 outlier rule ----
    "q_quarantine_bad" -> ((s, d) => {
      val (_, bad) = Quarantine.split(Tables.events(s, d), Seq(
        "invalid_event_type" ->
          !col("event_type").isin(AllowedRawTypes.map(lit): _*),
        "null_user" -> col("user_id").isNull,
        "outlier_amount" -> (col("value") > 400.0)))
      bad.select(col("event_id"), col("event_type"), col("value"),
          col("reason"))
        .orderBy("event_id")
    }),
    "q_quarantine_good_counts" -> ((s, d) => {
      val (good, _) = Quarantine.split(Tables.events(s, d), Seq(
        "invalid_event_type" ->
          !col("event_type").isin(AllowedRawTypes.map(lit): _*),
        "outlier_amount" -> (col("value") > 400.0)))
      good.groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- U1: heterogeneous quarantine-stream union ----
    "q_union_quarantine" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val badType = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("event_type"),
          lit("invalid_event_type").as("reason"))
      val badAmount = ev.filter(col("value") > 400.0)
        .select(col("event_id"), col("value"),
          lit("outlier_amount").as("reason"))
      Quarantine.unionQuarantines(Seq(badType, badAmount))
        .orderBy("reason", "event_id")
    }),

    // ---- S1: per-line JSON parse with corrupt-record quarantine ----
    "q_json_quarantine" -> ((s, d) => {
      // Deterministic JSON lines derived from orders; every 7th line is
      // truncated mid-object → PERMISSIVE parse routes it to the corrupt
      // column instead of failing the scan (ingest.py:45-49 semantics).
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val line = when(col("k") % 7 === 0,
          concat(lit("{\"id\":"), col("k").cast("string")))
        .otherwise(concat(lit("{\"id\":"), col("k").cast("string"),
          lit(",\"amount\":"), col("p").cast("string"), lit("}")))
      val parsed = from_json(line,
        "id BIGINT, amount DOUBLE, _raw STRING",
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_raw"))
      o.select(parsed.getField("_raw").isNotNull.as("is_bad"),
          parsed.getField("amount").as("amount"))
        .groupBy("is_bad")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("amount"), lit(0.0))), 2).as("total"))
        .orderBy("is_bad")
    }),

    // ---- S1-analog for CSV: malformed-row quarantine via from_csv ----
    "q_csv_quarantine" -> ((s, d) => {
      // Every 11th synthesized line has a non-numeric amount field →
      // PERMISSIVE parse nulls the typed column and captures the raw line
      // in the corrupt-record column instead of failing the scan.
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val line = when(col("k") % 11 === 0,
          concat(col("k").cast("string"), lit(",oops")))
        .otherwise(concat_ws(",", col("k").cast("string"),
          col("p").cast("string")))
      val parsed = from_csv(line,
        org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, amount DOUBLE, _raw STRING"),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_raw"))
      o.select(parsed.getField("_raw").isNotNull.as("is_bad"),
          parsed.getField("amount").as("amount"))
        .groupBy("is_bad")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("amount"), lit(0.0))), 2).as("total"))
        .orderBy("is_bad")
    }),

    // ---- G1/G2: normalization ----
    "q_normalize_priority" -> ((s, d) =>
      Tables.orders(s, d).select("o_orderpriority").distinct()
        .withColumn("normalized", normalizeToken(col("o_orderpriority")))
        .orderBy("o_orderpriority")),
    "q_canonical_events" -> ((s, d) =>
      Tables.events(s, d).select("event_type").distinct()
        .withColumn("canonical", normalizeEventName(col("event_type")))
        .orderBy("event_type")),

    // ---- G17/G4: JSON extraction + numeric coercion ----
    "q_props_coercion" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").try_cast("bigint").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
        .orderBy("event_type")),

    // ---- G17 as MapType: JSON props → map, exploded key/value rollup ----
    "q_props_map" -> ((s, d) =>
      Tables.events(s, d)
        .select(explode(from_json(col("props"), "map<string,bigint>",
          Map.empty[String, String])).as(Seq("key", "value")))
        .groupBy("key")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .orderBy("key")),

    // ---- array aggregation: per-user sorted distinct type set ----
    "q_user_type_sets" -> ((s, d) =>
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
            .as("types"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id")),

    // ---- G13: deterministic hash ids ----
    "q_hash_id" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          hashId(col("event_id").cast("string"), col("event_type"))
            .as("hid"))
        .orderBy("event_id")),

    // ---- G7: multi-format timestamp parse with noon-pinning ----
    "q_multiformat_ts" -> ((s, d) => {
      val fmts = Seq("MM-dd-yyyy", "dd/MM/yyyy", "yyyy-MM-dd HH:mm:ss")
      val raw = when(col("o_orderkey") % 3 === 0,
          date_format(col("o_orderdate"), "MM-dd-yyyy"))
        .when(col("o_orderkey") % 3 === 1,
          date_format(col("o_orderdate"), "dd/MM/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), raw.as("raw"))
        .withColumn("parsed", tsMicros(multiFormatTs(col("raw"), fmts)))
        .orderBy("o_orderkey")
    }),

    // ---- G10: currency scrubbing ----
    "q_money_scrub" -> ((s, d) => {
      val str = col("l_extendedprice").cast("string")
      val raw = when(col("l_orderkey") % 2 === 0, concat(lit("$"), str))
        .otherwise(concat(lit("₹"), regexp_replace(str, "\\.", ",")))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), raw.as("raw"))
        .withColumn("amount", moneyScrub(col("raw")))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- D1: keyed upsert (MERGE semantics) ----
    "q_upsert" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "event_type", "value", "ts")
      val existing = ev.filter(col("event_id") % 2 === 0)
      val incoming = ev.filter(col("event_id") % 3 === 0)
        .withColumn("value", col("value") + 100.0)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      Upsert.upsert(existing, incoming, Seq("event_id"), col("ts"),
          col("event_id"))
        .select(col("event_id"), col("event_type"), col("value"),
          tsMicros(col("ts")).as("ts"))
        .orderBy("event_id")
    }),

    // ---- D2: deterministic surrogate keys ----
    "q_surrogate_keys" -> ((s, d) =>
      Upsert.withSurrogateKey(
          Tables.events(s, d).select("event_type").distinct(),
          "event_type", "event_type_id")
        .orderBy("event_type")),

    // ---- D2 scale sibling: same sorted-order ids, no single-partition
    // window (range partition + per-partition rank + offset merge) ----
    "q_surrogate_scale" -> ((s, d) =>
      Upsert.withSurrogateKeyScale(
          Tables.customer(s, d).select(col("c_name").as("name")).distinct(),
          "name", "id")
        .orderBy("name")),

    // ---- A8: dim_dates expansion ----
    "q_dim_dates" -> ((s, d) =>
      Upsert.dimDates(
          Tables.events(s, d).select(eventDate(col("ts")).as("date_key")),
          "date_key")
        .orderBy("date_key")),

    // ---- J1–J4: star joins; O1/O2: sort / top-k ----
    "q_region_revenue" -> ((s, d) => StarAnalytics.regionRevenue(s, d)),
    "q_pricing_summary" -> ((s, d) => StarAnalytics.pricingSummary(s, d)),
    "q_top_orders" -> ((s, d) => StarAnalytics.topOrders(s, d)),
    "q_events_preview" -> ((s, d) => StarAnalytics.eventsPreview(s, d)),
    "q_shipping_priority" -> ((s, d) =>
      StarAnalytics.shippingPriority(s, d)),
    "q_local_supplier_volume" -> ((s, d) =>
      StarAnalytics.localSupplierVolume(s, d)),

    // ---- skew-salted join (same result as the plain join, by contract) --
    "q_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      graft.operators.Salt.saltedJoin(li, o, "orderkey", 4,
          xxhash64(col("orderkey"), col("l_linenumber")))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") *
            (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // ---- K-group: ORC sink+source roundtrip (columnar format #2) ----
    "q_orc_roundtrip" -> ((s, d) => {
      val tmp = s"$scratchRoot/orc_events"
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
        .orderBy("event_type")
    }),

    // ---- K1/K2+S1/S6: CSV and JSONL sink+source roundtrips ----
    "q_csv_roundtrip" -> ((s, d) => {
      val tmp = s"$scratchRoot/csv_events"
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      src.write.mode("overwrite").option("header", true).csv(tmp)
      s.read.schema(src.schema).option("header", true).csv(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
        .orderBy("event_type")
    }),
    "q_jsonl_roundtrip" -> ((s, d) => {
      val tmp = s"$scratchRoot/jsonl_events"
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      src.write.mode("overwrite").json(tmp)
      s.read.schema(src.schema).json(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
        .orderBy("event_type")
    }),

    // ---- schema evolution: mergeSchema over drifting parquet batches ----
    // Batch 1 lacks the `value` column (early producer); batch 2 has it.
    // mergeSchema=true unions the schemas, nulling the missing column for
    // old files — the schema-drift tolerance the reference implements by
    // hand-patching columns (SURVEY.md §1.3) done at the source level.
    "q_schema_evolution" -> ((s, d) => {
      val tmp = s"$scratchRoot/schema_evo"
      val ev = Tables.events(s, d)
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$tmp/batch=1")
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$tmp/batch=2")
      s.read.option("mergeSchema", true).parquet(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
        .orderBy("event_type")
    }),

    // ---- window: top-k per group (the partitioned-heap pattern) ----
    "q_top_per_group" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 3)
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy("o_orderpriority", "rnk")
    }),

    // ---- typed Dataset per-group logic (flatMapGroups) ----
    "q_gap_median" -> ((s, d) => {
      // Per-user MEDIAN inter-event gap: order-statistics per group are
      // genuinely imperative (sort the group's gaps, pick the middle), so
      // this is the Dataset[T] flatMapGroups shape — one group in memory
      // at a time, never the whole partition. Emits nothing for <2 events.
      import s.implicits._
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id").cast("long"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroups { (uid: Long, it: Iterator[(Long, java.sql.Timestamp)]) =>
          val times = it.map(_._2.getTime).toArray
          java.util.Arrays.sort(times)
          if (times.length < 2) Iterator.empty
          else {
            val gaps = times.sliding(2).map(a => (a(1) - a(0)) / 1000.0)
              .toArray
            java.util.Arrays.sort(gaps)
            val mid = gaps.length / 2
            val m = if (gaps.length % 2 == 1) gaps(mid)
                    else (gaps(mid - 1) + gaps(mid)) / 2.0
            Iterator((uid, math.rint(m * 10000) / 10000))
          }
        }
        .toDF("user_id", "median_gap_s")
        .orderBy("user_id")
    }),

    // ---- typed Aggregator (UDAF surface): Welford moments ----
    "q_welford_stats" -> ((s, d) =>
      Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(graft.functions.WelfordAgg.column(col("value")).as("mv"))
        .select(col("event_type"),
          round(col("mv._1"), 4).as("mean"),
          round(sqrt(col("mv._2")), 4).as("sd"))
        .orderBy("event_type")),

    // ---- statistical aggregates beyond the reference's sum/count ----
    "q_order_stats" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")), 4).as("mean"),
          round(stddev_samp(col("o_totalprice")), 4).as("sd"),
          round(corr(col("o_totalprice"), col("o_custkey")), 6).as("r"))
        .orderBy("o_orderpriority")),

    // ---- event-time SLIDING windows (each event in size/slide panes) ----
    "q_sliding_counts" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("n"))
        .orderBy("win_start", "event_type")),

    // ---- window: ntile decile summary over order totals ----
    // ntile(10) OVER (ORDER BY ...) would single-task the whole orders
    // table; instead the global row number comes from the distributed
    // two-pass GlobalRank and the decile is ntile's closed form
    // (first n%10 buckets take one extra row) — same result, range-
    // partitioned shuffle instead of a corpus window
    "q_value_deciles" -> ((s, d) => {
      // rank the SINGLE value column (guide §2.2): the report is per-
      // decile (count, min, max) of the value, so which of equal-valued
      // rows straddles a decile boundary cannot change any output —
      // counts are rank-determined and min/max are value-determined —
      // and the old o_orderkey tiebreak/payload was dead shuffle weight
      val ranked = graft.operators.GlobalRank.withRowNumber(
        Tables.orders(s, d).select(col("o_totalprice")),
        Seq(col("o_totalprice")), "rn")
      val tot = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile",
          when(col("rn") <= expr("(n % 10) * (n div 10 + 1)"),
            expr("(rn - 1) div (n div 10 + 1) + 1"))
          .otherwise(expr(
            "n % 10 + (rn - 1 - (n % 10) * (n div 10 + 1)) div (n div 10)"
              + " + 1"))
          .cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .withColumn("decile", col("decile").cast("bigint"))
        .orderBy("decile")
    }),

    // ---- ext: deduplication suite (SURVEY.md §7.5) ----
    "q_exact_dedup" -> ((s, d) =>
      graft.ext.DedupExt.exactDedup(Tables.documents(s, d))
        .orderBy("fp")),
    "q_jaccard_pairs" -> ((s, d) =>
      graft.ext.DedupExt.jaccardPairs(Tables.documents(s, d))
        .orderBy("doc_id_a", "doc_id_b")),
    "q_minhash_signatures" -> ((s, d) =>
      // localCheckpoint: barrier against InferFiltersFromGenerate cloning
      // the sketch tree into the explode's size()>0 filter (see DedupExt).
      graft.ext.DedupExt.minhashSignatures(Tables.documents(s, d))
        .localCheckpoint()
        .select(col("doc_id"),
          posexplode(col("sig")).as(Seq("seed_id", "min_hash")))
        .withColumn("seed_id", col("seed_id").cast("bigint"))
        .orderBy("doc_id", "seed_id")),
    "q_minhash_candidates" -> ((s, d) =>
      graft.ext.DedupExt.minhashCandidates(Tables.documents(s, d))
        .agg(count(lit(1)).as("n_candidate_pairs"))),
    "q_simhash" -> ((s, d) =>
      graft.ext.DedupExt.simhashes(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_simhash_candidates" -> ((s, d) =>
      graft.ext.DedupExt.simhashCandidates(Tables.documents(s, d), 16)
        .agg(count(lit(1)).as("n_candidate_pairs"))),

    "q_dedup_clusters" -> ((s, d) =>
      graft.ext.DedupCluster.prefixDupClusters(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_dedup_pipeline" -> ((s, d) =>
      graft.ext.DedupExt.dedupPipeline(Tables.documents(s, d))
        .orderBy("doc_id")),

    // ---- ext: similarity search ----
    "q_cosine_topk" -> ((s, d) =>
      graft.ext.Similarity.bruteForceTopK(Tables.embeddings(s, d))
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")),
    "q_ivf_topk" -> ((s, d) =>
      graft.ext.Similarity.ivfTopK(Tables.embeddings(s, d))
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")),
    "q_lsh_buckets" -> ((s, d) =>
      graft.ext.Similarity.lshBuckets(Tables.embeddings(s, d))
        .orderBy("vec_id")),
    "q_kmeans_refine" -> ((s, d) =>
      graft.ext.Similarity.kmeansRefine(Tables.embeddings(s, d))
        .orderBy("centroid_id", "dim_id")),

    // ---- ext: text analysis ----
    "q_text_stats" -> ((s, d) =>
      graft.ext.TextAnalysis.textStats(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_lang_id" -> ((s, d) =>
      graft.ext.TextAnalysis.langId(Tables.documents(s, d))
        .orderBy("doc_id")),
    // ---- model-eval representative: pred vs label confusion matrix ----
    "q_lang_confusion" -> ((s, d) =>
      graft.ext.TextAnalysis.langId(Tables.documents(s, d))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")),

    // ---- sequence mining lite: top 3-step event paths per user ----
    "q_event_paths" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    }),

    "q_fingerprint" -> ((s, d) =>
      graft.ext.TextAnalysis.fingerprints(Tables.documents(s, d))
        .orderBy("doc_id")),
    // ---- incremental (batch-vs-corpus) dedup: the ingest-time shape ----
    "q_incremental_dedup" -> ((s, d) =>
      graft.ext.DedupExt.incrementalDedup(Tables.documents(s, d))
        .orderBy("doc_id")),
    // ---- SemDeDup: cluster-then-dedup over the embedding space ----
    "q_semdedup" -> ((s, d) =>
      graft.ext.Similarity.semDedup(Tables.embeddings(s, d))
        .orderBy("vec_id")),
    // ---- iterated Lloyd's k-means (2 assignment→mean rounds) ----
    "q_kmeans_iter" -> ((s, d) =>
      graft.ext.Similarity.kmeansIterate(Tables.embeddings(s, d))
        .orderBy("centroid_id", "dim_id")),
    // ---- centroid-silhouette quality of the seed clustering ----
    "q_silhouette" -> ((s, d) =>
      graft.ext.Similarity.silhouette(Tables.embeddings(s, d))),
    // ---- hybrid retrieval: reciprocal-rank fusion (cosine + BM25) ----
    "q_rrf_fusion" -> ((s, d) =>
      graft.ext.Similarity.rrfFusion(Tables.documents(s, d),
        Tables.embeddings(s, d))),
    // ---- MMR diversification of the semantic top pool (3 picks) ----
    "q_mmr_select" -> ((s, d) =>
      graft.ext.Similarity.mmrSelect(Tables.embeddings(s, d))),
    // ---- per-node triangle counts on the co-purchase graph ----
    "q_triangles" -> ((s, d) =>
      graft.analytics.GraphAnalytics.coPurchaseTriangles(s, d)),
    // ---- top principal direction via power iteration on the Gram ----
    // top-2 PCA of the embedding gram via deflated power iteration
    "q_pca_top2" -> ((s, d) =>
      graft.ext.Similarity.pcaTop2(Tables.embeddings(s, d))),
    // exact 1-Wasserstein drift between hash-cohort count distributions
    "q_wasserstein" -> ((s, d) =>
      StatsAnalytics.wasserstein1(Tables.events(s, d))),
    // GPD peaks-over-threshold tail fit (probability-weighted moments)
    "q_gpd_tail" -> ((s, d) =>
      StatsAnalytics.gpdTail(Tables.orders(s, d))),
    // instrumental-variable Wald/LATE with a weekend-first instrument
    "q_wald_iv" -> ((s, d) =>
      StatsAnalytics.waldIv(Tables.events(s, d))),
    // sharp regression discontinuity at the order-price cutoff
    "q_rdd" -> ((s, d) =>
      StatsAnalytics.rdd(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Qini uplift curve at score-census thresholds
    "q_qini" -> ((s, d) =>
      StatsAnalytics.qiniCurve(Tables.events(s, d))),
    // U-shaped (40/20/40) position-based multi-touch attribution
    "q_position_attribution" -> ((s, d) =>
      EventAnalytics.positionAttribution(Tables.events(s, d))),
    // Nelson–Aalen cumulative hazard + Breslow survival
    "q_nelson_aalen" -> ((s, d) =>
      StatsAnalytics.nelsonAalen(Tables.events(s, d))),
    // lag-1 Granger causality: do clicks predict next-day revenue
    "q_granger" -> ((s, d) =>
      StatsAnalytics.grangerLag1(Tables.events(s, d))),
    // exact periodogram at candidate periods (literal trig tables)
    "q_periodogram" -> ((s, d) =>
      StatsAnalytics.periodogram(Tables.events(s, d))),
    // VanderWeele-Ding E-value for unmeasured confounding
    "q_evalue" -> ((s, d) =>
      StatsAnalytics.eValue(Tables.events(s, d))),
    // information-gain feature ranking vs the is-purchase label
    "q_info_gain" -> ((s, d) =>
      StatsAnalytics.infoGainRanking(Tables.events(s, d))),
    // per-segment overdispersion (Poisson plausibility) of order counts
    "q_overdispersion" -> ((s, d) =>
      StatsAnalytics.overdispersion(Tables.orders(s, d),
        Tables.customer(s, d))),
    // two-round IPF raking of dow x type cells to uniform margins
    "q_raking" -> ((s, d) =>
      StatsAnalytics.raking(Tables.events(s, d))),
    // Luhn mod-10 PII-plausibility audit of digit runs
    "q_luhn_audit" -> ((s, d) =>
      graft.ext.Curation.luhnAudit(Tables.customer(s, d)
        .select(col("c_mktsegment").as("source"),
          col("c_name").as("text")))),
    // closeness/harmonic centrality of top-degree co-purchase hubs
    "q_closeness" -> ((s, d) =>
      graft.analytics.GraphAnalytics.closeness(s, d)),
    // Page–Hinkley sequential mean-shift monitor on daily value
    "q_page_hinkley" -> ((s, d) =>
      InferenceAnalytics.pageHinkley(Tables.events(s, d))),
    // Theta-method (M3) 7-day forecast of the daily value series
    "q_theta_forecast" -> ((s, d) =>
      InferenceAnalytics.thetaForecast(Tables.events(s, d))),
    // normalized spectral entropy + dominant period of the day series
    "q_spectral_entropy" -> ((s, d) =>
      InferenceAnalytics.spectralEntropy(Tables.events(s, d))),
    // two-cohort log-rank churn test on the md5 user split
    "q_logrank" -> ((s, d) =>
      InferenceAnalytics.logRank(Tables.events(s, d))),
    // restricted mean survival time at 7/14/21/28-day horizons
    "q_rmst" -> ((s, d) =>
      InferenceAnalytics.rmst(Tables.events(s, d))),
    // Cochran's Q: did the five event surfaces reach equal user shares
    "q_cochran_q" -> ((s, d) =>
      InferenceAnalytics.cochranQ(Tables.events(s, d))),
    // Friedman rank test of priority order-value profiles across nations
    "q_friedman" -> ((s, d) =>
      InferenceAnalytics.friedman(Tables.orders(s, d),
        Tables.customer(s, d))),
    // Krippendorff's alpha: do an order's lines agree on return flags
    "q_krippendorff" -> ((s, d) =>
      InferenceAnalytics.krippendorffAlpha(Tables.lineitem(s, d))),
    // doubly-robust AIPW treatment effect with cell nuisance models
    "q_aipw_ate" -> ((s, d) =>
      InferenceAnalytics.aipwAte(Tables.events(s, d))),
    // Jelinek–Mercer interpolated bigram perplexity (held-out slice)
    "q_jelinek_mercer" -> ((s, d) =>
      graft.ext.TextAnalysis.jelinekMercer(Tables.documents(s, d))),
    // natural vs z-order vs Hilbert data-skipping shoot-out
    "q_hilbert_skip" -> ((s, d) =>
      graft.operators.Hilbert.skipStats3(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey")),
    // Mann–Kendall trend test + Theil–Sen slope of the daily series
    "q_mann_kendall" -> ((s, d) =>
      InferenceAnalytics.mannKendall(Tables.events(s, d))),
    // TOST equivalence of per-user spend across the md5 A/B split
    "q_tost" -> ((s, d) =>
      InferenceAnalytics.tost(Tables.events(s, d))),
    // JS / Hellinger / total-variation per-source distribution battery
    "q_dist_distances" -> ((s, d) =>
      graft.ext.Curation.distributionDistances(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // Chao1 vocabulary-richness estimate per source
    "q_chao1" -> ((s, d) =>
      graft.ext.Curation.chao1(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // per-source character entropy rate / redundancy (native char grams)
    "q_char_entropy" -> ((s, d) =>
      graft.ext.TextAnalysis.charEntropy(Tables.documents(s, d))),
    // MAUVE divergence frontier between the embedding parity cohorts
    "q_mauve_frontier" -> ((s, d) =>
      graft.ext.Similarity.mauveFrontier(Tables.embeddings(s, d))),
    // BH FDR step-up over the five-metric permutation A/B readout
    "q_bh_fdr" -> ((s, d) =>
      InferenceAnalytics.bhFdr(Tables.events(s, d))),
    // two-sample Anderson-Darling + CvM: weekday vs weekend revenue
    "q_anderson_darling" -> ((s, d) =>
      InferenceAnalytics.andersonDarling(Tables.events(s, d))),
    // Kaplan-Meier with Greenwood variance confidence bands
    "q_km_greenwood" -> ((s, d) =>
      InferenceAnalytics.kmGreenwood(Tables.events(s, d))),
    // O'Brien-Fleming group-sequential weekly interim monitoring
    "q_group_sequential" -> ((s, d) =>
      InferenceAnalytics.groupSequential(Tables.events(s, d))),
    // exact Bayesian A/B: P(B>A) under Beta posteriors (Lanczos lgamma)
    "q_bayes_ab" -> ((s, d) =>
      InferenceAnalytics.bayesAb(Tables.events(s, d))),
    // GEV block-maxima fit by probability-weighted moments
    "q_gev_maxima" -> ((s, d) =>
      InferenceAnalytics.gevMaxima(Tables.events(s, d))),
    // Pike hazard ratio + ln-scale CI on the log-rank risk table
    "q_hazard_ratio" -> ((s, d) =>
      InferenceAnalytics.hazardRatio(Tables.events(s, d))),
    // negative-binomial vs Poisson fit of per-customer order counts
    "q_nb_fit" -> ((s, d) =>
      InferenceAnalytics.nbFit(Tables.orders(s, d))),
    // partial correlation: clicks vs purchases given views
    "q_partial_corr" -> ((s, d) =>
      InferenceAnalytics.partialCorr(Tables.events(s, d))),
    // Lin's concordance between snaive forecast and realized revenue
    "q_lin_ccc" -> ((s, d) =>
      InferenceAnalytics.linCcc(Tables.events(s, d))),
    // exact hypergeometric rare-term enrichment per source
    "q_term_enrichment" -> ((s, d) =>
      graft.ext.Curation.termEnrichment(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // whitening effectiveness: exact mean cosine before/after (x-mu)/sd
    "q_whitening_isotropy" -> ((s, d) =>
      graft.ext.Similarity.whiteningIsotropy(Tables.embeddings(s, d))),
    // empirical upper-tail dependence of price vs quantity
    "q_tail_dependence" -> ((s, d) =>
      InferenceAnalytics.tailDependence(Tables.lineitem(s, d))),
    // record-counts drift test vs the harmonic-number expectation
    "q_record_counts" -> ((s, d) =>
      InferenceAnalytics.recordCounts(Tables.events(s, d))),
    // Diebold-Mariano: snaive-vs-naive forecast loss comparison
    "q_diebold_mariano" -> ((s, d) =>
      InferenceAnalytics.dieboldMariano(Tables.events(s, d))),
    // pinball (quantile) loss of the snaive forecast at tau grid
    "q_pinball_loss" -> ((s, d) =>
      InferenceAnalytics.pinballLoss(Tables.events(s, d))),
    // Calinski-Harabasz + Davies-Bouldin internal cluster validity
    "q_cluster_validity" -> ((s, d) =>
      graft.ext.Similarity.clusterValidity(Tables.embeddings(s, d))),
    "q_power_iteration" -> ((s, d) =>
      graft.ext.Similarity.powerIteration(Tables.embeddings(s, d))),
    // ---- NDCG@k of the cosine ranking against label relevance ----
    "q_ndcg" -> ((s, d) =>
      graft.ext.Similarity.ndcgAtK(Tables.embeddings(s, d))),
    // ---- temperature (α=0.5) source-mixing weights + token allocation --
    "q_mixture_weights" -> ((s, d) =>
      graft.ext.TextAnalysis.mixtureWeights(Tables.documents(s, d))),
    // ---- deterministic training-shard plan (hash sharding + balance) ----
    "q_shard_plan" -> ((s, d) =>
      graft.ext.TextAnalysis.shardPlan(Tables.documents(s, d))),
    // ---- the mixture, materialized: greedy per-source token prefixes ----
    "q_mixture_sample" -> ((s, d) =>
      graft.ext.TextAnalysis.mixtureSample(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_heavy_hitters" -> ((s, d) =>
      graft.ext.TextAnalysis.heavyHitters(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    "q_repetition" -> ((s, d) =>
      graft.ext.TextAnalysis.repetitionRatio(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_pii_scrub" -> ((s, d) => {
      // Deterministically plant PII (no fixture mutation): every 5th doc
      // gains an email, every 7th a long digit run.
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" call 5551234567"))
            .otherwise(lit(""))).as("text"))
      graft.ext.TextAnalysis.piiScrub(planted).orderBy("doc_id")
    }),
    "q_decontaminate" -> ((s, d) =>
      graft.ext.TextAnalysis.decontaminate(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_curation_pipeline" -> ((s, d) =>
      graft.ext.TextAnalysis.curationPipeline(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_rolling_fingerprint" -> ((s, d) => {
      graft.plans.RollingHash.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.plans.RollingHash.rolling_hash(col("text")).as("rhash"))
        .orderBy("doc_id")
    }),

    // ---- ext: multimodal binary plumbing ----
    "q_multimodal_meta" -> ((s, d) =>
      graft.ext.Multimodal.binaryMeta(Tables.documents(s, d))
        .orderBy("doc_id")),

    // ---- ext: multimodal frame-sampling / feature-extraction plumbing ----
    "q_frame_sample" -> ((s, d) =>
      graft.ext.Multimodal.frameSample(Tables.documents(s, d), 8)
        .orderBy("doc_id", "frame_idx")),
    "q_media_features" -> ((s, d) =>
      graft.ext.Multimodal.mediaFeatures(Tables.documents(s, d), 8)
        .select(col("doc_id"),
          posexplode(col("features")).as(Seq("dim_id", "feature")))
        .withColumn("dim_id", col("dim_id").cast("bigint"))
        .orderBy("doc_id", "dim_id")),
    "q_multimodal_pack" -> ((s, d) => {
      // l2norm builds a dot_f32 call — register the native fns here rather
      // than rely on an earlier query having done it (map order shifts).
      graft.plans.VectorOps.register(s)
      graft.ext.Multimodal.packMedia(Tables.documents(s, d),
          Tables.embeddings(s, d))
        .select(col("doc_id"), col("lang"), col("label").cast("bigint")
            .as("label"),
          length(col("media.payload")).cast("bigint").as("n_bytes"),
          round(graft.ext.Similarity.l2norm(col("embedding")), 6)
            .as("emb_norm"))
        .orderBy("doc_id")
    }),

    // ---- ext: embedding-cosine near-dup (exact + LSH-blocked scale path) ----
    "q_embedding_neardup" -> ((s, d) =>
      graft.ext.Similarity.embeddingNearDup(Tables.embeddings(s, d), 0.3)
        .orderBy("vec_id_a", "vec_id_b")),
    "q_embedding_neardup_lsh" -> ((s, d) =>
      graft.ext.Similarity.embeddingNearDupLSH(Tables.embeddings(s, d),
          0.3, 8)
        .orderBy("vec_id_a", "vec_id_b")),

    // ---- streaming: session_window (same plan batch & stream) ----
    "q_sessionize" -> ((s, d) =>
      graft.streaming.EventStream.sessions(Tables.events(s, d), "30 minutes")
        .orderBy("user_id", "session_start")),

    // ---- streaming: event-time rollup drained via AvailableNow ----
    "q_stream_hourly_counts" -> ((s, d) => {
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream.runAvailableNow(
          graft.streaming.EventStream.hourlyCounts(stream), "complete")
        .orderBy("hour_start", "event_type")
    }),

    // ---- streaming: custom keyed state (mapGroupsWithState) drained ----
    "q_stateful_totals" -> ((s, d) => {
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream.drainStatefulLatest(
          graft.streaming.EventStream.statefulUserTotals(stream),
          Seq("user_id"), "n_events")
        .orderBy("user_id")
    }),

    // ---- streaming: transformWithState (Spark 4 typed state + RocksDB) --
    "q_tws_user_stats" -> ((s, d) => {
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream.drainStatefulLatest(
          graft.streaming.EventStream.twsUserStats(stream),
          Seq("user_id"), "n_events")
        .orderBy("user_id")
    }),

    "q_tws_type_counts" -> ((s, d) => {
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream.drainStatefulLatest(
          graft.streaming.EventStream.twsTypeCounts(stream),
          Seq("user_id", "event_type"), "n_events")
        .orderBy("user_id", "event_type")
    }),

    "q_tws_last_n" -> ((s, d) => {
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream.drainStatefulLatest(
          graft.streaming.EventStream.twsLastN(stream),
          Seq("user_id"), "n_seen")
        .orderBy("user_id")
    }),

    // ---- streaming drift monitor: converges to the batch PSI ----
    "q_stream_psi" -> ((s, d) => {
      // the fixed split point is monitor CONFIG (an unbounded stream has
      // no max date) — derived here from the bounded fixture by a one-row
      // batch pre-pass, mirroring the batch operator's midpoint
      val mid = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(date_add(col("d0"),
          (datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
        .head().getDate(0)
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream.drainStatefulLatest(
          graft.streaming.EventStream.twsPsiDrift(stream, mid),
          Seq("event_type"), "n_seen")
        .drop("n_seen")
        .orderBy("event_type")
    }),

    // ---- streaming: flatMapGroupsWithState (0..n rows per key/batch) ----
    "q_threshold_alerts" -> ((s, d) => {
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream.runAvailableNow(
          graft.streaming.EventStream.thresholdAlerts(stream), "append")
        .orderBy("user_id", "level")
    }),

    // ---- S5 + G7–G13 + F4–F6: Kaggle normalizer composite paths ----
    "q_kaggle_events" -> ((s, d) =>
      graft.ingest.KaggleNormalizer.normalizeAmazonEvents(amazonRawSynth(s, d))
        .select(col("event_id"), tsMicros(col("ts")).as("ts"), col("event"),
          col("order_id"), col("amount"), col("qty"), col("unit_price"),
          col("currency"))
        .orderBy("order_id")),

    // ---- the loader's per-file skip-cause report (loader:261-298) ----
    // intl grossCap is lowered from the 5M default so the outlier counter
    // is exercised by the fixture (TPC-H totals never reach 5M).
    "q_kaggle_stats" -> ((s, d) => {
      val a = graft.ingest.KaggleNormalizer.amazonStats(amazonRawSynth(s, d))
        .withColumn("file", lit("amazon_sale_report"))
      val i = graft.ingest.KaggleNormalizer
        .intlStats(intlRawSynth(s, d), grossCap = 300000.0)
        .withColumn("file", lit("international_sale_report"))
      a.unionByName(i)
        .select(col("file"), col("rows_total"), col("written"),
          col("skipped_bad_date_value"), col("skipped_no_ts"),
          col("skipped_amount_outlier"))
        .orderBy("file")
    }),
    "q_kaggle_intl" -> ((s, d) =>
      intlCanonical(s, d)
        .select(col("sale_id"), tsMicros(col("ts")).as("ts"),
          col("date_key"), col("customer"), col("sku"), col("pcs"),
          col("rate"), col("gross_amt"), col("currency"))
        .orderBy("sale_id", "customer", "sku", "pcs", "rate")),

    // ---- S6/D1: the intl warehouse branch end-to-end (load.py:141-219,
    // warehouse_star.sql:54-69) — two-phase keyed MERGE into
    // fact_international_sales through the real StarWarehouse path.
    // Batch 1 is the even-pcs subset; batch 2 overlaps it with bumped
    // rates, so the query exercises INSERT (new sale_ids), UPDATE
    // (conflicting sale_ids take batch-2 values), and the append-only
    // c_map/p_map surrogate sequences (customers/SKUs first seen in
    // batch 2 extend the batch-1 id range in sorted order).
    "q_upsert_intl" -> ((s, d) => {
      val intl = intlCanonical(s, d) // memo is already checkpointed
      val root = s"$scratchRoot/intl_wh"
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val wh = new graft.warehouse.StarWarehouse(s, root)
      // both MERGE batches land as one load — bit-equal to two sequential
      // loads (order-independent keep-latest fact merge, in-order dim id
      // fold; Round15OpsSpec pins the equivalence) at one commit's cost
      wh.load(None, Seq(
        intl.filter(col("pcs") % 2 === 0),
        intl.filter(col("pcs") % 3 =!= 1)
          .withColumn("rate", col("rate") + 1000.0)))
      wh.read("fact_international_sales")
        .select(col("sale_id"), tsMicros(col("ts")).as("ts"),
          col("date_key"), col("customer_id"), col("product_id"),
          col("pcs"), col("rate"), col("gross_amt"), col("currency"))
        .orderBy("sale_id")
    }),

    // ---- ext: as-of join (nearest-prior snapshot; single-shuffle) ----
    "q_asof_join" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(round(sum(col("o_totalprice")), 2).as("day_spend"),
          count(lit(1)).as("day_orders"))
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.operators.AsOfJoin
        .asofJoin(ev, spend, "user_id", "o_custkey", "ts", "o_orderdate")
        .select(col("user_id"), col("event_id"), tsMicros(col("ts")).as("ts"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("asof_date"),
          col("day_spend"), col("day_orders"))
        .orderBy("user_id", "event_id")
    }),

    // ---- two-level mergeable aggregation (partials → merge) ----
    // The explicit form of the partial/final contract every distributed
    // aggregate relies on, and the incremental-maintenance pattern: store
    // per-(day, shard) partials, merge on read. The oracle is the DIRECT
    // one-level aggregate — merge(partials) must equal it exactly.
    "q_partial_merge" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("event_date", eventDate(col("ts")))
      ev.groupBy(col("event_date"), (col("event_id") % 8).as("shard"))
        .agg(sum(coalesce(col("value"), lit(0.0))).as("psum"),
          count(lit(1)).as("pcnt"))
        .groupBy("event_date")
        .agg(round(sum(col("psum")), 2).as("revenue"),
          sum(col("pcnt")).as("n_events"))
        .orderBy("event_date")
    }),

    // ---- deterministic stratified sampling (portable hash buckets) ----
    "q_stratified_sample" -> ((s, d) =>
      graft.operators.Sampling.stratifiedSample(Tables.events(s, d),
          col("event_type"), col("event_id"),
          Map("purchase" -> 1000, "signup" -> 500, "view" -> 100,
            "click" -> 50))
        .select("event_id", "event_type", "user_id", "value")
        .orderBy("event_id")),

    // ---- cohort retention / transition matrix / first-last per type ----
    "q_retention" -> ((s, d) =>
      EventAnalytics.retentionCohorts(Tables.events(s, d))),
    "q_transitions" -> ((s, d) =>
      EventAnalytics.transitionMatrix(Tables.events(s, d))),
    "q_first_last" -> ((s, d) =>
      EventAnalytics.firstLastEvents(Tables.events(s, d))),

    // ---- ext: TF-IDF top terms + composite quality gate ----
    "q_tfidf" -> ((s, d) =>
      graft.ext.TextAnalysis.tfidfTop(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))
        .orderBy("doc_id", "rnk")),
    // ---- inverted-index build (capped posting lists) ----
    "q_inverted_index" -> ((s, d) =>
      graft.ext.TextAnalysis.invertedIndex(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // ---- hashing-trick featurization (signed buckets) ----
    "q_feature_hashing" -> ((s, d) =>
      graft.ext.TextAnalysis.featureHashing(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // ---- multinomial naive Bayes lang classifier (confusion matrix) ----
    "q_naive_bayes" -> ((s, d) =>
      graft.ext.TextAnalysis.naiveBayes(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    "q_doc_quality" -> ((s, d) =>
      graft.ext.TextAnalysis.qualityGate(Tables.documents(s, d))
        .orderBy("doc_id")),

    // ---- sketch quality: MinHash estimate vs exact Jaccard ----
    "q_edit_distance" -> ((s, d) =>
      graft.ext.DedupExt.editSimilarity(Tables.documents(s, d))
        .orderBy("doc_id_a", "doc_id_b")),
    "q_minhash_est" -> ((s, d) =>
      graft.ext.DedupExt.minhashEstimateVsExact(Tables.documents(s, d))
        .orderBy("doc_id_a", "doc_id_b")),

    // ---- SCD2 dimension history (gaps-and-islands versioning) ----
    "q_scd2_history" -> ((s, d) => {
      val feed = Tables.events(s, d).filter(col("user_id").isNotNull)
        .groupBy(col("user_id"), eventDate(col("ts")).as("day"))
        .agg(max_by(col("event_type"),
          struct(col("ts"), col("event_id"))).as("state"))
      Upsert.scd2History(feed, "user_id", "day", "state")
        .orderBy("user_id", "valid_from")
    }),

    // ---- window: percent_rank / cume_dist (relative standing) ----
    "q_value_ranks" -> ((s, d) => {
      // percent_rank/cume_dist over a 5-NDV priority key: the direct
      // Window.partitionBy form funnels ~20% of the corpus through one
      // task at ANY scale (the concentration-share lint's first catch),
      // so the ranks come from the grouped two-pass primitive — the
      // total order (price, orderkey) makes rank ≡ row_number, hence
      // pr = (rn−1)/(n−1) and cd = rn/n exactly
      val ranked = graft.operators.GlobalRank.withGroupRowNumber(
        Tables.orders(s, d).select("o_orderpriority", "o_orderkey",
          "o_totalprice"),
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice"), col("o_orderkey")), "rn", "ng")
      ranked.select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"),
          round(when(col("ng") > 1L, (col("rn") - 1L).cast("double") /
            (col("ng") - 1L).cast("double")).otherwise(0.0), 6).as("pr"),
          round(col("rn").cast("double") / col("ng").cast("double"), 6)
            .as("cd"))
        .filter(col("o_orderkey") % 100 === 0) // thin the dump, ranks intact
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // ---- left-semi / left-anti star joins ----
    "q_semi_customers" -> ((s, d) =>
      StarAnalytics.activeCustomers(s, d)),
    "q_anti_customers" -> ((s, d) =>
      StarAnalytics.dormantCustomers(s, d)),

    // ---- streaming: watermarked stream-stream attribution join ----
    "q_stream_attribution" -> ((s, d) => {
      val ev = graft.streaming.EventStream.readEventsStream(s, d)
      val joined = graft.streaming.EventStream.attributionJoin(
        ev.filter(col("event_type") === "signup"),
        ev.filter(col("event_type") === "purchase"))
      // A stream-stream join keeps FOUR state stores per partition (left/
      // right × keyWithIndex/keyToNumValues), so its per-partition fixed
      // cost is higher than single-operator stateful queries (which run
      // at 8) — 4 measures ~15% faster at fixture volume.
      graft.streaming.EventStream.runAvailableNow(joined, "append",
          statePartitions = 4)
        .select(col("signup_id"), col("purchase_id"),
          col("s_user").as("user_id"))
        .orderBy("signup_id", "purchase_id")
    }),

    // ---- ext: binned range join (attribution window; no per-key blow-up) ----
    "q_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
          col("ts").as("s_ts"),
          (col("ts") + expr("INTERVAL 7 DAYS")).as("s_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("p_ts"),
          col("value"))
      graft.operators.RangeJoin
        .binnedRangeJoin(signups, purchases, "s_user", "p_user",
          "s_ts", "s_end", "p_ts", 7L * 86400)
        .select(col("signup_id"), col("purchase_id"),
          col("s_user").as("user_id"),
          tsMicros(col("s_ts")).as("signup_ts"),
          tsMicros(col("p_ts")).as("purchase_ts"),
          coalesce(col("value"), lit(0.0)).as("purchase_value"))
        .orderBy("signup_id", "purchase_id")
    }),

    // ---- distribution / statistical analytics (StatsAnalytics) ----
    "q_unpivot" -> ((s, d) =>
      EventAnalytics.unpivotEventCounts(Tables.events(s, d),
        Seq("click", "error", "purchase", "signup", "view"))),
    "q_date_gaps" -> ((s, d) =>
      EventAnalytics.dateGaps(Tables.events(s, d))),
    "q_hll_merge" -> ((s, d) =>
      EventAnalytics.hllMergeDau(Tables.events(s, d))),
    "q_histogram" -> ((s, d) =>
      StatsAnalytics.histogram(Tables.orders(s, d), "o_totalprice", 25000.0)),
    "q_anomaly" -> ((s, d) =>
      StatsAnalytics.anomalies(Tables.events(s, d))),
    "q_winsorize" -> ((s, d) =>
      StatsAnalytics.winsorize(Tables.events(s, d))),
    "q_ab_lift" -> ((s, d) =>
      StatsAnalytics.abLift(Tables.events(s, d))),
    // ---- categorical featurization: smoothed mean target encoding ----
    "q_target_encoding" -> ((s, d) =>
      StatsAnalytics.targetEncoding(Tables.events(s, d))),
    // ---- per-group OLS via decimal-summed normal equations ----
    "q_linreg" -> ((s, d) =>
      StatsAnalytics.linreg(Tables.lineitem(s, d))),
    // ---- GBDT-style histogram best-split search (regression stump) ----
    "q_gbdt_split" -> ((s, d) =>
      StatsAnalytics.gbdtSplit(Tables.lineitem(s, d))),
    // ---- Benford first-digit audit over order totals ----
    "q_benford" -> ((s, d) =>
      StatsAnalytics.benford(Tables.orders(s, d))),
    // ---- mutual information: quantity bucket × return flag ----
    "q_mutual_info" -> ((s, d) =>
      StatsAnalytics.mutualInfo(Tables.lineitem(s, d))),
    // ---- two-sample KS statistic between hash-split variants ----
    "q_ks_test" -> ((s, d) =>
      StatsAnalytics.ksTest(Tables.events(s, d))),
    // ---- deterministic Poisson-bootstrap mean CI ----
    "q_bootstrap_ci" -> ((s, d) =>
      StatsAnalytics.bootstrapCi(Tables.events(s, d))),
    // ---- Kaplan-Meier user-lifetime survival (right-censored) ----
    "q_survival_km" -> ((s, d) =>
      StatsAnalytics.survivalKm(Tables.events(s, d))),
    // ---- Laplace-mechanism DP count release (deterministic noise) ----
    "q_dp_counts" -> ((s, d) =>
      StatsAnalytics.dpCounts(Tables.events(s, d))),
    // ---- per-segment Gini concentration of customer spend ----
    "q_gini_segment" -> ((s, d) =>
      StatsAnalytics.giniBySegment(Tables.orders(s, d),
        Tables.customer(s, d))),
    // ---- PSI drift of value distribution between time halves ----
    "q_psi_drift" -> ((s, d) =>
      StatsAnalytics.psiDrift(Tables.events(s, d))),
    // ---- chi-square independence: hash variant x event type ----
    "q_chi2" -> ((s, d) =>
      StatsAnalytics.chiSquare(Tables.events(s, d))),
    // ---- RFM quintile segmentation of the order book ----
    "q_rfm_segments" -> ((s, d) =>
      StatsAnalytics.rfmSegments(Tables.orders(s, d))),
    // scale sibling: approx_percentile boundaries, no global ntile sort.
    // accuracy=1e7 is the EXACT-at-fixture setting (sketch holds every
    // rank below ~accuracy samples) so the hash check against the
    // oracle's exact row_number rank holds; the function's default is
    // the scale-sane sketch-grade 1e4.
    "q_rfm_scale" -> ((s, d) =>
      StatsAnalytics.rfmSegmentsScale(Tables.orders(s, d),
        accuracy = 10000000)),
    // ---- exact-weight EWMA of daily revenue (alpha = 1/2) ----
    "q_ewma_daily" -> ((s, d) =>
      StatsAnalytics.ewmaDaily(Tables.events(s, d))),

    // ---- corpus scoring / chunk-level boilerplate ----
    "q_unigram_logprob" -> ((s, d) =>
      graft.ext.TextAnalysis.unigramLogprob(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    "q_chunk_boilerplate" -> ((s, d) =>
      graft.ext.TextAnalysis.chunkBoilerplate(Tables.documents(s, d))),

    // ---- Bloom-prefiltered semi join (probe-side shuffle reduction) ----
    "q_bloom_semi" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val bigSpenders = ev
        .filter(col("event_type") === "purchase" && col("value") > 200)
        .select(col("user_id").as("spender_id")).distinct()
      graft.operators.BloomPrefilter
        .semiJoin(ev, bigSpenders, "user_id", "spender_id",
          expectedItems = 100000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
        .orderBy("user_id")
    }),

    // ---- TPC-H anchors: Q6 selective scan, Q13 distribution ----
    "q_selective_revenue" -> ((s, d) =>
      StarAnalytics.selectiveRevenue(s, d)),
    "q_cust_order_dist" -> ((s, d) =>
      StarAnalytics.customerOrderDistribution(s, d)),

    // ---- CDC changelog apply / rolling median / correlation matrix ----
    "q_cdc_apply" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val snap = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("value"), col("ts"), col("event_id"))
      val changes = ev.filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), col("value"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", "U").otherwise("D")
            .as("op"))
      graft.operators.Upsert
        .applyChangelog(snap, changes, Seq("user_id"), col("ts"),
          col("event_id"))
        .select(col("user_id"), col("value"),
          tsMicros(col("ts")).as("ts"), col("event_id"))
        .orderBy("user_id")
    }),
    "q_rolling_median" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("event_date")).rowsBetween(-6, 0)
      EventAnalytics.revenue(Tables.events(s, d))
        .withColumn("rolling_median_7d",
          round(expr("percentile(revenue, 0.5)").over(w), 2))
        .orderBy("event_date")
    }),
    "q_corr_matrix" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("r_qty_price"),
        round(corr(col("l_quantity"), col("l_discount")), 6)
          .as("r_qty_disc"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6)
          .as("r_price_disc"),
        count(lit(1)).as("n_rows"))),

    // ---- time-series forward fill / column profiling ----
    "q_fill_forward" -> ((s, d) =>
      EventAnalytics.forwardFill(Tables.events(s, d))
        .orderBy("user_id", "event_id")),
    "q_null_profile" -> ((s, d) =>
      StatsAnalytics.nullProfile(Tables.events(s, d),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))),

    // ---- FULL OUTER reconciliation / EXCEPT ALL multiset diff ----
    // Spend-vs-dimension reconciliation: per-user purchase totals FULL
    // OUTER a customer subset — matched, events-only, and customer-only
    // rows all survive with a presence flag (the audit query an inner
    // join silently falsifies). Both sides aggregate/prune BEFORE the
    // join, so the full-outer shuffle moves |users|+|dim| rows only.
    "q_full_outer" -> ((s, d) => {
      val spend = Tables.events(s, d)
        .filter(col("user_id").isNotNull &&
          col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(round(sum(coalesce(col("value"), lit(0.0))), 2)
          .as("total_spend"))
      val dim = Tables.customer(s, d)
        .filter(col("c_nationkey") < 13)
        .select(col("c_custkey"), col("c_nationkey"))
      spend.join(dim, col("user_id") === col("c_custkey"), "full_outer")
        .select(
          coalesce(col("user_id"), col("c_custkey")).as("entity_id"),
          col("total_spend"), col("c_nationkey"),
          when(col("c_custkey").isNull, "events_only")
            .when(col("user_id").isNull, "customer_only")
            .otherwise("both").as("presence"))
        .orderBy("entity_id")
    }),
    // Multiset day-over-day diff: Jan 1's (user, type) activity bag minus
    // Jan 2's — EXCEPT ALL keeps surplus MULTIPLICITY (a user with 3
    // clicks on day 1 and 1 on day 2 contributes 2 rows), which plain
    // EXCEPT would collapse to membership.
    "q_except_all" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        .withColumn("event_date",
          graft.functions.CleanFns.eventDate(col("ts")))
      def day(dt: String) = ev.filter(col("event_date") === dt)
        .select("user_id", "event_type")
      day("2024-01-01").exceptAll(day("2024-01-02"))
        .orderBy("user_id", "event_type")
    }),

    // ---- ANN quality: IVF recall vs brute-force ground truth ----
    "q_ann_recall" -> ((s, d) =>
      graft.ext.Similarity.annRecall(Tables.embeddings(s, d))),

    // ---- streaming: stream-static dimension enrichment ----
    "q_stream_enrich" -> ((s, d) => {
      val ev = graft.streaming.EventStream.readEventsStream(s, d)
        .filter(col("user_id").isNotNull)
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      graft.streaming.EventStream
        .runAvailableNow(
          graft.streaming.EventStream.enrichCounts(ev, dim,
            "user_id", "c_custkey", "c_nationkey"), "complete")
        .orderBy("c_nationkey")
    }),

    // ---- streaming: watermark-bounded semantic dedup ----
    "q_stream_dedup" -> ((s, d) => {
      val stream = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream
        .runAvailableNow(
          graft.streaming.EventStream.streamKeyDedup(stream), "append")
        .select(col("user_id"), col("event_type"), col("minute"))
        .orderBy("user_id", "event_type", "minute")
    }),

    // ---- TPC-H anchors, round 2: Q4/Q14/Q16/Q17/Q18/Q19/Q22 shapes ----
    "q_late_priority" -> ((s, d) =>
      StarAnalytics.latePriorityOrders(s, d)),
    "q_promo_share" -> ((s, d) =>
      StarAnalytics.promoRevenueShare(s, d)),
    "q_supplier_variety" -> ((s, d) =>
      StarAnalytics.supplierVariety(s, d)),
    // ---- TPC-H Q20 shape: correlated-threshold dominant suppliers ----
    "q_promo_suppliers" -> ((s, d) =>
      StarAnalytics.promoSuppliers(s, d)),
    "q_small_qty_revenue" -> ((s, d) =>
      StarAnalytics.smallQuantityRevenue(s, d)),
    "q_large_orders" -> ((s, d) =>
      StarAnalytics.largeVolumeOrders(s, d)),
    "q_disjunctive_revenue" -> ((s, d) =>
      StarAnalytics.disjunctiveRevenue(s, d)),
    "q_idle_balance" -> ((s, d) =>
      StarAnalytics.idleBalanceByNation(s, d)),

    // ---- TPC-H anchors, round 3: Q7/Q8/Q10/Q15/Q21 shapes ----
    "q_nation_volume" -> ((s, d) =>
      StarAnalytics.nationVolume(s, d)),
    "q_market_share" -> ((s, d) =>
      StarAnalytics.marketShare(s, d)),
    "q_returned_items" -> ((s, d) =>
      StarAnalytics.returnedItems(s, d)),
    "q_top_supplier" -> ((s, d) =>
      StarAnalytics.topSupplier(s, d)),
    "q_waiting_suppliers" -> ((s, d) =>
      StarAnalytics.waitingSuppliers(s, d)),
    "q_product_profit" -> ((s, d) =>
      StarAnalytics.productProfit(s, d)),
    "q_important_parts" -> ((s, d) =>
      StarAnalytics.importantParts(s, d)),
    "q_late_priority_mix" -> ((s, d) =>
      StarAnalytics.latePriorityMix(s, d)),
    "q_min_cost_supplier" -> ((s, d) =>
      StarAnalytics.minCostSupplier(s, d)),

    // ---- ext round 3: retrieval scoring + embedding classification ----
    "q_bm25" -> ((s, d) =>
      graft.ext.TextAnalysis.bm25(Tables.documents(s, d))),
    "q_knn_classify" -> ((s, d) =>
      graft.ext.Similarity.knnClassify(Tables.embeddings(s, d))),
    // ---- contrastive hard-negative mining (label-filtered exact top-k) --
    "q_hard_negatives" -> ((s, d) =>
      graft.ext.Similarity.hardNegatives(Tables.embeddings(s, d))),
    // ---- corpus governance: domain cap / blocklist gate / OOV audit ----
    "q_domain_cap" -> ((s, d) =>
      graft.ext.Curation.domainCap(Tables.documents(s, d))),
    "q_blocklist" -> ((s, d) =>
      graft.ext.Curation.blocklistGate(Tables.documents(s, d))),
    "q_oov_rate" -> ((s, d) =>
      graft.ext.Curation.oovRate(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // ---- per-source unigram KL drift vs the corpus blend ----
    "q_source_kl" -> ((s, d) =>
      graft.ext.Curation.sourceKL(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // one DoReMi Group-DRO mixture-reweighting step over sources
    "q_doremi_step" -> ((s, d) =>
      graft.ext.Curation.doremiStep(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // Dirichlet-smoothed query-likelihood retrieval
    "q_dirichlet_ql" -> ((s, d) =>
      graft.ext.TextAnalysis.dirichletQL(Tables.documents(s, d))),
    // ---- merkle-style cross-engine table digest (anti-entropy) ----
    "q_table_digest" -> ((s, d) =>
      graft.operators.DataContract.tableDigest(
        Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber"),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_returnflag"), col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM-dd")))),
    // ---- cluster-balanced diversity sample over embeddings ----
    "q_cluster_balance" -> ((s, d) =>
      graft.ext.Similarity.clusterBalance(Tables.embeddings(s, d))),
    // ---- DSIR importance model + resampling (hashed-ngram selection) ----
    "q_dsir_logratio" -> ((s, d) =>
      graft.ext.Curation.dsirLogRatio(Tables.documents(s, d))),
    "q_dsir_sample" -> ((s, d) =>
      graft.ext.Curation.dsirSample(Tables.documents(s, d))),
    // ---- blocked record linkage (entity resolution over part names) ----
    "q_record_linkage" -> ((s, d) =>
      graft.ext.DedupExt.recordLinkageCached(s, d)),
    // ---- exact-substring dup census (Lee et al. 2022, relational) ----
    "q_dup_spans" -> ((s, d) =>
      graft.ext.TextAnalysis.duplicatedSpans(Tables.documents(s, d))),
    "q_bpe_pairs" -> ((s, d) =>
      graft.ext.TextAnalysis.bpePairs(Tables.documents(s, d))),
    // ---- iterative BPE merge learning (3 relational rounds) ----
    "q_bpe_learn" -> ((s, d) =>
      graft.ext.TextAnalysis.bpeLearn(Tables.documents(s, d))),
    // ---- final sub-word vocab census after the learned merges ----
    "q_bpe_vocab" -> ((s, d) =>
      graft.ext.TextAnalysis.bpeVocab(Tables.documents(s, d))),
    "q_source_overlap" -> ((s, d) =>
      graft.ext.TextAnalysis.sourceOverlap(Tables.documents(s, d))),
    "q_ngram_novelty" -> ((s, d) =>
      graft.ext.TextAnalysis.ngramNovelty(Tables.documents(s, d))),
    "q_cusum" -> ((s, d) =>
      StatsAnalytics.cusumDays(Tables.orders(s, d))),
    // ---- int8-quantization acceptance: recall@k vs the exact ranking ----
    "q_quantize_recall" -> ((s, d) =>
      graft.ext.Similarity.quantizeRecall(Tables.embeddings(s, d))),
    // ---- Matryoshka prefix-truncation recall acceptance test ----
    "q_matryoshka_recall" -> ((s, d) =>
      graft.ext.Similarity.matryoshkaRecall(Tables.embeddings(s, d))),
    // ---- Good–Turing unseen-vocabulary-mass audit per source ----
    "q_good_turing" -> ((s, d) =>
      graft.ext.Curation.goodTuring(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    // ---- split conformal intervals + finite-sample coverage audit ----
    "q_conformal" -> ((s, d) =>
      graft.ext.EvalOps.conformalCoverage(Tables.orders(s, d))),
    // ---- scale sibling: sketch-boundary conformal quantile ----
    "q_conformal_scale" -> ((s, d) =>
      graft.ext.EvalOps.conformalCoverageScale(Tables.orders(s, d))),
    // ---- k-center greedy (farthest-point) coreset selection ----
    "q_kcenter" -> ((s, d) =>
      graft.ext.Similarity.kCenterGreedy(Tables.embeddings(s, d))),
    // ---- TextRank keyword extraction (PageRank on co-occurrence) ----
    "q_textrank" -> ((s, d) =>
      graft.ext.TextAnalysis.textrank(Tables.documents(s, d))),
    // ---- Bradley–Terry preference strengths (MM fit, 2 rounds) ----
    "q_bradley_terry" -> ((s, d) =>
      graft.ext.EvalOps.bradleyTerry(Tables.lineitem(s, d))),
    // ---- golden-record survivorship after linkage + components ----
    "q_golden_record" -> ((s, d) =>
      graft.ext.DedupExt.goldenRecords(Tables.part(s, d),
        linkageOpt = Some(graft.ext.DedupExt.recordLinkageCached(s, d)))),
    // ---- row-level replica diff (the step after q_table_digest) ----
    // The "replica" is deterministic drift carved from orders itself
    // (o_orderkey is the fixture's one genuinely unique key): key-hash
    // residues drop ~1/101 of rows, bump o_custkey on ~1/97, and re-key
    // ~1/89 as additions — every engine rebuilds the same divergent
    // replica, so the diff itself is oracle-checkable.
    "q_table_diff" -> ((s, d) => {
      val hk = graft.ext.TextFns.portableH60(col("o_orderkey"))
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"),
        hk.as("hk"))
      val rightBase = base.filter(pmod(col("hk"), lit(101L)) =!= 0L)
        .withColumn("o_custkey",
          when(pmod(col("hk"), lit(97L)) === 0L, col("o_custkey") + 1)
            .otherwise(col("o_custkey")))
      val rightAdded = base.filter(pmod(col("hk"), lit(89L)) === 0L)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      graft.operators.DataContract.tableDiff(
        base.drop("hk"), rightBase.unionByName(rightAdded).drop("hk"),
        Seq("o_orderkey"),
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority")))
    }),
    "q_quantize" -> ((s, d) =>
      graft.ext.Similarity.quantizeInt8(Tables.embeddings(s, d))),
    "q_zipf" -> ((s, d) =>
      graft.ext.TextAnalysis.zipfFit(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),
    "q_skew_report" -> ((s, d) =>
      StatsAnalytics.keySkewReport(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),
    // CBO uniform-key join-size estimate vs exact size (from count
    // frames, join never materialized) — the skew-vs-plan audit
    "q_join_card" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ev = Tables.events(s, d)
      StatsAnalytics.joinCardinalityAudit(Seq(
        ("events_self_user",
          ev.select(col("user_id")), ev.select(col("user_id"))),
        ("lineitem_orders", li.select(col("l_orderkey")),
          Tables.orders(s, d).select(col("o_orderkey"))),
        ("lineitem_part", li.select(col("l_partkey")),
          Tables.part(s, d).select(col("p_partkey")))))
    }),
    "q_mad" -> ((s, d) =>
      StatsAnalytics.madByGroup(Tables.events(s, d))),
    "q_split_counts" -> ((s, d) =>
      graft.operators.Sampling.splitAssign(
          Tables.documents(s, d), col("doc_id"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split")),
    "q_dataset_card" -> ((s, d) =>
      graft.ext.TextAnalysis.datasetCard(Tables.documents(s, d))),
    "q_conversion_time" -> ((s, d) =>
      EventAnalytics.conversionTime(Tables.events(s, d))),
    "q_twap" -> ((s, d) =>
      EventAnalytics.twapByUser(Tables.events(s, d))),
    "q_copurchase" -> ((s, d) =>
      StarAnalytics.coPurchasePairs(s, d)),
    // ---- deterministic BPR-style negative sampling per customer ----
    "q_neg_sample" -> ((s, d) =>
      StarAnalytics.negativeSamples(s, d)),
    "q_pagerank" -> ((s, d) =>
      graft.analytics.GraphAnalytics.coPurchaseRank(s, d)),
    // ---- single-source BFS reachability profile (3 rounds) ----
    "q_bfs_hops" -> ((s, d) =>
      graft.analytics.GraphAnalytics.coPurchaseBfs(s, d)),
    // ---- local clustering coefficient (clique-ness per product) ----
    "q_clustering_coef" -> ((s, d) =>
      graft.analytics.GraphAnalytics.clusteringCoefficient(s, d)),
    // ---- incremental aggregate maintenance: merged partials ----
    "q_incr_agg" -> ((s, d) =>
      StatsAnalytics.incrementalAgg(Tables.events(s, d))),
    // ---- CUPED covariate adjustment (variance-reduction report) ----
    "q_cuped" -> ((s, d) =>
      StatsAnalytics.cuped(Tables.events(s, d))),
    // ---- ACF of daily revenue at lags 1..7 ----
    "q_acf" -> ((s, d) =>
      StatsAnalytics.acfDaily(Tables.events(s, d))),
    // ---- robust trend: Theil-Sen slope + Mann-Kendall test ----
    "q_robust_trend" -> ((s, d) =>
      StatsAnalytics.robustTrend(Tables.events(s, d))),
    // ---- cohort LTV triangle (cumulative value by first-seen day) ----
    "q_ltv_cohorts" -> ((s, d) =>
      StatsAnalytics.ltvCohorts(Tables.events(s, d))),
    // ---- minimum detectable effect at 80% power ----
    "q_mde" -> ((s, d) =>
      StatsAnalytics.mdeReport(Tables.events(s, d))),
    // ---- data-contract validation report (FK / unique / range) ----
    "q_data_contract" -> ((s, d) =>
      graft.operators.DataContract.report(Tables.orders(s, d),
        Tables.customer(s, d), Tables.lineitem(s, d),
        Tables.events(s, d))),
    // ---- curriculum schedule: quality-quantile stages + token budget --
    "q_curriculum" -> ((s, d) =>
      graft.ext.TextAnalysis.curriculumSchedule(Tables.documents(s, d))),
    // scale sibling: approx_percentile stage boundaries, no global ntile
    // sort (accuracy=1e7 = exact-at-fixture; default is sketch-grade 1e4)
    "q_curriculum_scale" -> ((s, d) =>
      graft.ext.TextAnalysis.curriculumScheduleScale(Tables.documents(s, d),
        accuracy = 10000000)),
    // ---- k-anonymity audit over the quasi-identifier ----
    "q_k_anonymity" -> ((s, d) =>
      StatsAnalytics.kAnonymity(Tables.events(s, d))),
    // ---- late-arrival backfill planner (snapshot diff per date) ----
    "q_backfill_plan" -> ((s, d) =>
      StatsAnalytics.backfillPlan(Tables.events(s, d))),
    "q_assoc_rules" -> ((s, d) =>
      StarAnalytics.assocRules(s, d)),
    "q_seasonality" -> ((s, d) =>
      EventAnalytics.seasonality(Tables.events(s, d))),
    "q_histogram2d" -> ((s, d) =>
      StatsAnalytics.histogram2d(Tables.lineitem(s, d))),
    "q_imputation" -> ((s, d) =>
      StatsAnalytics.imputationReport(Tables.events(s, d))),
    "q_iqr_outliers" -> ((s, d) =>
      StatsAnalytics.iqrOutliers(Tables.events(s, d))),

    // ---- training-pipeline ops: packing / containment / bigram LM ----
    "q_token_pack" -> ((s, d) =>
      graft.ext.TextAnalysis.tokenPacking(Tables.documents(s, d))
        .orderBy("doc_id")),
    "q_containment_pairs" -> ((s, d) =>
      graft.ext.TextAnalysis.containmentPairs(Tables.documents(s, d))
        .orderBy("doc_id_a", "doc_id_b")),
    "q_bigram_logprob" -> ((s, d) =>
      graft.ext.TextAnalysis.bigramLogprobCached(s, d)),
    // ---- CCNet-style per-lang perplexity terciles (head/middle/tail) --
    "q_ccnet_buckets" -> ((s, d) =>
      graft.ext.TextAnalysis.ccnetBuckets(Tables.documents(s, d),
        scoresOpt = Some(graft.ext.TextAnalysis.bigramLogprobCached(s, d)))),
    // ---- scale sibling: sketch-boundary tercile cut, windowless ----
    "q_ccnet_scale" -> ((s, d) =>
      graft.ext.TextAnalysis.ccnetBucketsScale(Tables.documents(s, d),
        scoresOpt = Some(graft.ext.TextAnalysis.bigramLogprobCached(s, d)))),
    // ---- entity-level leakage-safe k-fold split audit (GroupKFold) --
    "q_group_kfold" -> ((s, d) =>
      graft.operators.Sampling.groupKFold(Tables.events(s, d),
        col("user_id"), col("event_type") === "purchase")),
    // ---- mean reciprocal rank @ k (retrieval-eval triad, leg 3) ----
    "q_mrr" -> ((s, d) =>
      graft.ext.Similarity.mrrAtK(Tables.embeddings(s, d))),
    // ---- near-dup threshold sweep (one verify pass, many cutoffs) --
    "q_dedup_sweep" -> ((s, d) =>
      graft.ext.DedupExt.dedupSweep(Tables.documents(s, d))),

    // ---- interval analytics: sweep-line peak concurrency ----
    "q_peak_concurrency" -> ((s, d) =>
      EventAnalytics.peakConcurrency(Tables.events(s, d))),

    // ---- data layout: Z-order clustering quality report ----
    "q_zorder" -> ((s, d) =>
      graft.operators.ZOrder.layoutStats(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey")),

    // ---- deterministic event down-sampling (keep every 5th per user) ----
    "q_downsample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          row_number().over(w).cast("bigint").as("rn"))
        .filter((col("rn") - 1) % 5 === 0)
        .orderBy("user_id", "event_id")
    }),

    // ---- SCD2 point-in-time join (fact → dimension version AS OF day) --
    // The interval-membership join (day ∈ [valid_from, valid_to)) phrased
    // as an AS-OF join on valid_from: SCD2 versions partition each key's
    // timeline, so "latest valid_from ≤ day" IS the containing version —
    // one sort-window pass instead of a non-equi interval join.
    "q_scd2_join" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val feed = ev
        .groupBy(col("user_id"), eventDate(col("ts")).as("day"))
        .agg(max_by(col("event_type"),
          struct(col("ts"), col("event_id"))).as("state"))
      val hist = Upsert.scd2History(feed, "user_id", "day", "state")
        .select(col("user_id").as("h_user"), col("valid_from"),
          col("version"), col("state"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          eventDate(col("ts")).as("day"))
      graft.operators.AsOfJoin
        .asofJoin(purchases, hist, "user_id", "h_user", "day", "valid_from")
        .select(col("user_id"), col("event_id"), col("day"),
          col("state"), col("version"))
        .orderBy("event_id")
    }),

    // ---- quality-weighted deterministic sampling ----
    "q_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedSample(Tables.documents(s, d),
          col("doc_id"),
          least(lit(1250L) * col("n_chars"), lit(1000000L)))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // ---- per-source top-p (nucleus) selection by token mass ----
    "q_top_p" -> ((s, d) =>
      graft.operators.Sampling.topPByMass(
          Tables.documents(s, d).select("doc_id", "source", "n_chars"),
          col("source"), col("doc_id"), col("n_chars"), 0.8)
        .orderBy("doc_id")),

    // ---- deterministic fixed-count per-stratum sampling ----
    "q_uniform_k" -> ((s, d) =>
      graft.operators.Sampling.uniformKPerStratum(
          Tables.events(s, d).select("event_id", "event_type"),
          col("event_type"), col("event_id"), 100)
        .orderBy("event_type", "event_id")),

    // ---- count-min-sketch frequency audit (exact side oracled; the
    // estimate enters as a deterministic bound flag, raw values
    // spec-bounded in Round5OpsSpec) ----
    "q_cms_counts" -> ((s, d) =>
      EventAnalytics.cmsCountsAudit(Tables.events(s, d))),

    // ---- corpus collocations: bigram PMI over exact count tables ----
    "q_pmi" -> ((s, d) =>
      graft.ext.TextAnalysis.bigramPmi(Tables.documents(s, d))),

    // ---- per-document token entropy (information-density quality) ----
    "q_entropy" -> ((s, d) =>
      graft.ext.TextAnalysis.tokenEntropy(Tables.documents(s, d),
        tfOpt = Some(graft.ext.TextAnalysis.docTermFreq(s, d)))),

    // ---- plain-SQL surface: injected native functions via spark.sql ----
    // The whole query is SQL text over a temp view — the path a SQL-only
    // user takes — exercising the session-injected word_shingles native
    // expression and SQL higher-order functions end to end.
    "q_sql_surface" -> ((s, d) => {
      graft.plans.TextSketches.register(s)
      Tables.documents(s, d).createOrReplaceTempView("documents_v")
      s.sql("""
        SELECT doc_id,
          CAST(size(word_shingles(
            filter(split(lower(text), '\\s+'), t -> t != ''), 3))
            AS BIGINT) AS n_shingles
        FROM documents_v ORDER BY doc_id""")
    }),

    // ---- round 10: evaluation & data-valuation reports (ext/EvalOps) ----
    // Mann-Whitney AUC of the stopword-ratio score vs the lang='en' label
    "q_auc" -> ((s, d) =>
      graft.ext.EvalOps.aucReport(Tables.documents(s, d))),
    // reliability deciles + ECE + Brier for the same score-as-probability
    "q_calibration" -> ((s, d) =>
      graft.ext.EvalOps.calibrationReport(Tables.documents(s, d))),
    // leave-one-source-out mixture ablation (length + en-share deltas)
    "q_source_ablation" -> ((s, d) =>
      graft.ext.EvalOps.sourceAblation(Tables.documents(s, d))),
    // 2-D pareto frontier via the per-size sweep (oracle: NOT EXISTS)
    "q_skyline" -> ((s, d) =>
      graft.ext.EvalOps.skylineParts(Tables.part(s, d))),
    // strict ordered view→click→purchase funnel, 7-day step windows
    "q_funnel_strict" -> ((s, d) =>
      graft.ext.EvalOps.funnelStrict(Tables.events(s, d))),
    // item-item CF: cosine-normalised co-purchase, top-5 per item
    "q_item_cf" -> ((s, d) => graft.ext.EvalOps.itemCF(s, d)),
    // one-step Newton logistic regression (rational-exact, no exp)
    "q_logreg_newton" -> ((s, d) =>
      graft.ext.EvalOps.logregNewton(Tables.documents(s, d))),
    // rendezvous-hash resharding: only ~1/(n+1) of docs move to shard n
    "q_shard_move" -> ((s, d) =>
      graft.ext.TextAnalysis.hrwShardMove(Tables.documents(s, d))),
    // linear multi-touch attribution over a 7-day pre-purchase window
    "q_attribution" -> ((s, d) =>
      EventAnalytics.attribution(Tables.events(s, d))),
    // exact single change-point on the daily order-revenue series
    "q_changepoint" -> ((s, d) =>
      StatsAnalytics.changePoint(Tables.orders(s, d))),
    // isotonic (PAV-exact, minimax form) calibration over score centiles
    "q_isotonic" -> ((s, d) =>
      graft.ext.EvalOps.isotonicCalibration(Tables.documents(s, d))),
    // degree assortativity of the co-purchase graph (Pearson over edges)
    "q_assortativity" -> ((s, d) =>
      graft.analytics.GraphAnalytics.assortativity(s, d)),
    // iterative k-core peel census over the co-purchase graph
    "q_kcore" -> ((s, d) =>
      graft.analytics.GraphAnalytics.coPurchaseKCore(s, d)),
    // deterministic sync label-propagation communities (min-label ties)
    "q_label_prop" -> ((s, d) =>
      graft.analytics.GraphAnalytics.coPurchaseLabelProp(s, d)),
    // leave-one-out hit-rate@5 for the item-CF neighbour lists
    "q_cf_hitrate" -> ((s, d) => graft.ext.EvalOps.cfHitRate(s, d)),
    // l-diversity audit of the sensitive user_id per quasi-id group
    "q_l_diversity" -> ((s, d) =>
      StatsAnalytics.lDiversity(Tables.events(s, d))),
    // Lorenz concentration table over customer lifetime spend
    "q_lorenz" -> ((s, d) =>
      StatsAnalytics.lorenzDeciles(Tables.orders(s, d))),
    // scale sibling: approx_percentile decile boundaries, no global ntile
    // sort (accuracy=1e7 = exact-at-fixture; default is sketch-grade 1e4)
    "q_lorenz_scale" -> ((s, d) =>
      StatsAnalytics.lorenzDecilesScale(Tables.orders(s, d),
        accuracy = 10000000)),
    // Fano factor (variance/mean of daily arrivals) per event type
    "q_burstiness" -> ((s, d) =>
      StatsAnalytics.burstiness(Tables.events(s, d))),
    // Newman-Girvan modularity of the brand partition (integral sums)
    "q_modularity" -> ((s, d) =>
      graft.analytics.GraphAnalytics.brandModularity(s, d)),
    // referential-integrity audit over all six star foreign keys
    "q_ref_integrity" -> ((s, d) => StarAnalytics.refIntegrity(s, d)),
    // degree histogram + discrete power-law tail MLE (CSN alpha)
    "q_degree_dist" -> ((s, d) =>
      graft.analytics.GraphAnalytics.degreeDistribution(s, d)),
    // pairwise audience Jaccard across event types
    "q_audience_overlap" -> ((s, d) =>
      EventAnalytics.audienceOverlap(Tables.events(s, d))),
    // monthly stickiness: avg DAU / MAU
    "q_stickiness" -> ((s, d) =>
      EventAnalytics.stickiness(Tables.events(s, d))),
    // Herfindahl supplier-concentration per nation (decimal-exact)
    "q_hhi" -> ((s, d) => StarAnalytics.supplierHhi(s, d)),
    // ISO-week revenue with week-over-week growth
    "q_wow_growth" -> ((s, d) =>
      StatsAnalytics.wowGrowth(Tables.orders(s, d))),
    // cold-start parts (no co-purchase signal) per brand
    "q_cold_start" -> ((s, d) => StarAnalytics.coldStartParts(s, d)),
    // Welch's unequal-variance t-test between hash-split variants
    "q_welch_ttest" -> ((s, d) =>
      StatsAnalytics.welchTTest(Tables.events(s, d))),
    // t-closeness audit (TVD of sensitive dist per quasi group)
    "q_t_closeness" -> ((s, d) =>
      StatsAnalytics.tCloseness(Tables.events(s, d))),
    // per-type freshness / staleness SLO report
    "q_staleness" -> ((s, d) =>
      StatsAnalytics.stalenessReport(Tables.events(s, d))),
    // Cohen's kappa between two deterministic annotators
    "q_cohen_kappa" -> ((s, d) =>
      graft.ext.EvalOps.cohenKappa(Tables.documents(s, d))),
    // Fleiss' kappa across the three-annotator pool
    "q_fleiss_kappa" -> ((s, d) =>
      graft.ext.EvalOps.fleissKappa(Tables.documents(s, d))),
    // Adamic-Adar link prediction on the co-purchase graph
    "q_adamic_adar" -> ((s, d) =>
      graft.analytics.GraphAnalytics.adamicAdar(s, d)),
    // hub-capped Adamic-Adar: wedge fanout bounded per center node
    "q_adamic_adar_capped" -> ((s, d) =>
      graft.analytics.GraphAnalytics.adamicAdarCapped(s, d)),
    // HITS authorities over the bipartite customer-part graph
    "q_hits" -> ((s, d) =>
      graft.analytics.GraphAnalytics.hits(s, d)),
    // tokenizer fertility (subwords/word) per language
    "q_fertility" -> ((s, d) =>
      graft.ext.TextAnalysis.tokenizerFertility(Tables.documents(s, d))),
    // Brown's double exponential smoothing: level/trend/forecast
    "q_brown_trend" -> ((s, d) =>
      StatsAnalytics.brownTrend(Tables.events(s, d))),
    // Warner randomized-response local-DP debias audit
    "q_randomized_response" -> ((s, d) =>
      StatsAnalytics.randomizedResponse(Tables.events(s, d))),
    // DBSCAN core/border/noise census over the cosine graph
    "q_dbscan_core" -> ((s, d) =>
      graft.ext.Similarity.dbscanCore(Tables.embeddings(s, d))),
    // DBSCAN cluster census (bounded min-label rounds on core graph)
    "q_dbscan_clusters" -> ((s, d) =>
      graft.ext.Similarity.dbscanClusters(Tables.embeddings(s, d))),
    // rolling-origin one-step backtest: naive vs EWMA forecasters
    "q_forecast_eval" -> ((s, d) =>
      StatsAnalytics.forecastEval(Tables.events(s, d))),
    // mean average precision @ 10 (retrieval-eval list quality)
    "q_map" -> ((s, d) =>
      graft.ext.Similarity.mapAtK(Tables.embeddings(s, d))),
    // point-in-time-correct churn training set (features < cutoff < label)
    "q_training_set" -> ((s, d) =>
      EventAnalytics.trainingSet(Tables.events(s, d))),
    // item-CF catalog coverage + popularity-bias share
    "q_rec_coverage" -> ((s, d) =>
      graft.ext.EvalOps.recCoverage(s, d)),
    // media near-dup: payload-shingle SimHash, chunk-blocked Hamming
    "q_media_neardup" -> ((s, d) =>
      graft.ext.Multimodal.mediaNearDup(Tables.documents(s, d))),
    // native integer-DCT perceptual hash per media payload
    "q_media_phash" -> ((s, d) =>
      graft.ext.Multimodal.mediaPHash(Tables.documents(s, d))),
    // media near-dup over the perceptual hash, chunk-blocked Hamming
    "q_media_phash_neardup" -> ((s, d) =>
      graft.ext.Multimodal.mediaNearDupPHash(Tables.documents(s, d))),
    // pHash over a GENUINELY DECODED P5 PGM payload (encode->parse->DCT)
    "q_pgm_phash" -> ((s, d) =>
      graft.ext.Multimodal.mediaPHashDecoded(Tables.documents(s, d))),
    // known-pair near-dup recall over the decoded-PGM perceptual hash
    // gradient SimHash over genuinely decoded PGM rasters
    "q_pgm_simhash" -> ((s, d) =>
      graft.ext.Multimodal.mediaSimHashPgm(Tables.documents(s, d))),
    // multi-probe (1-probe MIH) near-dup recovery over the raster SimHash
    "q_pgm_simhash_neardup" -> ((s, d) =>
      graft.ext.Multimodal.mediaNearDupSimHashPgm(Tables.documents(s, d))),
    "q_pgm_neardup" -> ((s, d) =>
      graft.ext.Multimodal.mediaNearDupPgm(Tables.documents(s, d))),
    // LSH bit-width tuning: candidates vs recall per nBits
    "q_lsh_tuning" -> ((s, d) =>
      graft.ext.Similarity.lshTuning(Tables.embeddings(s, d))),
    // sample-ratio-mismatch guardrail (1-dof chi-square vs 50/50)
    "q_srm" -> ((s, d) =>
      StatsAnalytics.srmCheck(Tables.events(s, d))),
    // Wilson-score 95% CI on the corpus signup->purchase rate
    "q_funnel_ci" -> ((s, d) =>
      EventAnalytics.funnelCi(Tables.events(s, d))),
    // day-stratified CMH variant x conversion association
    "q_cmh" -> ((s, d) =>
      StatsAnalytics.cmhTest(Tables.events(s, d))),
    // difference-in-differences over variants x time halves
    "q_did" -> ((s, d) =>
      StatsAnalytics.diffInDiff(Tables.events(s, d))),
    // ANALYZE-style column stats (n/null/ndv/min/max/MCV per column)
    "q_analyze_stats" -> ((s, d) =>
      StatsAnalytics.analyzeStats(Tables.orders(s, d))),
    // temporal-split leakage audit (spanning entities, cold starts)
    "q_temporal_leakage" -> ((s, d) =>
      EventAnalytics.temporalLeakage(Tables.events(s, d))),
    // delta-method SE + CI for the ratio metric (value per event)
    "q_delta_method" -> ((s, d) =>
      StatsAnalytics.deltaMethodRatio(Tables.events(s, d))),
    // covariate-balance SMD table for the hash variants
    "q_covariate_balance" -> ((s, d) =>
      StatsAnalytics.covariateBalance(Tables.events(s, d))),
    // Kish effective sample size of the quality weights per source
    "q_ess" -> ((s, d) =>
      graft.ext.Curation.essReport(Tables.documents(s, d))),
    // per-decile quantile treatment effects between the variants
    "q_qte" -> ((s, d) =>
      StatsAnalytics.quantileTreatmentEffect(Tables.events(s, d))),
    // seasonality-adjusted volume anomalies (weekday x hour baseline)
    "q_seasonal_anomaly" -> ((s, d) =>
      EventAnalytics.seasonalAnomaly(Tables.events(s, d))),
    // cumulative gains / lift table for the quality score
    "q_gains_curve" -> ((s, d) =>
      graft.ext.EvalOps.gainsCurve(Tables.documents(s, d))),
    // per-source exact / near-dup contamination accounting
    "q_dup_by_source" -> ((s, d) =>
      graft.ext.DedupExt.dupBySource(Tables.documents(s, d))),
    // recency-threshold churn baseline scored on the training set
    "q_churn_baseline" -> ((s, d) =>
      EventAnalytics.churnBaseline(Tables.events(s, d))),
    // Mann-Whitney rank-sum test over the per-user activity census
    "q_mann_whitney" -> ((s, d) =>
      StatsAnalytics.mannWhitney(Tables.events(s, d))),
    // Spearman rank correlation: order frequency vs part breadth
    "q_spearman" -> ((s, d) => StatsAnalytics.spearmanBreadthAt(s, d)),
    // Theil T inequality decomposition by market segment
    "q_theil" -> ((s, d) =>
      StatsAnalytics.theilIndex(Tables.orders(s, d),
        Tables.customer(s, d))),
    // Wald-Wolfowitz runs test on the daily-revenue sign series
    "q_runs_test" -> ((s, d) =>
      StatsAnalytics.runsTest(Tables.events(s, d))),
    // Cramer's V association between event type and weekday
    "q_cramers_v" -> ((s, d) =>
      StatsAnalytics.cramersV(Tables.events(s, d))),
    // inclusion-dependency (foreign-key) discovery across the star
    // (events loads via Tables.events — the ts-encoding-adaptive path)
    "q_fk_discovery" -> ((s, d) =>
      graft.operators.DataContract.inclusionDeps(inclCands.map {
        case (ct, cc, pt, pc) =>
          (ct, profTable(s, d, ct), cc, pt, profTable(s, d, pt), pc)
      })),
    // functional-dependency audit over candidate determinant pairs
    "q_fd_discovery" -> ((s, d) =>
      graft.operators.DataContract.functionalDeps(fdCands.map {
        case (t, a, b) => (t, profTable(s, d, t), a, b)
      })),
    // daily OHLC + VWAP candles via two-level deterministic arg-extrema
    "q_ohlc" -> ((s, d) =>
      EventAnalytics.ohlcDaily(Tables.events(s, d))),
    // neighborhood-Jaccard link prediction on the co-purchase graph
    "q_link_jaccard" -> ((s, d) =>
      graft.analytics.GraphAnalytics.linkJaccard(s, d)),
    // hub-capped neighborhood Jaccard (bounded wedge enumeration)
    "q_link_jaccard_capped" -> ((s, d) =>
      graft.analytics.GraphAnalytics.linkJaccardCapped(s, d)),
    // recommendation novelty vs corpus purchase entropy
    "q_rec_novelty" -> ((s, d) =>
      graft.ext.EvalOps.recNovelty(s, d)),
    // fuzzy record linkage on the native Jaro-Winkler expression
    "q_jaro_linkage" -> ((s, d) =>
      graft.ext.DedupExt.jaroLinkage(Tables.part(s, d))),
    // Kendall tau-b over the joint (orders, breadth) value census
    "q_kendall_tau" -> ((s, d) => StatsAnalytics.kendallTauAt(s, d)),
    // rescaled-range Hurst exponent of the daily-revenue series
    "q_hurst" -> ((s, d) =>
      StatsAnalytics.hurstRS(Tables.events(s, d))),
    // Flesch-style readability with the vowel-group syllable proxy
    "q_readability" -> ((s, d) =>
      graft.ext.TextAnalysis.readability(Tables.documents(s, d))),
    // precision-recall AUC over the score census
    "q_pr_auc" -> ((s, d) =>
      graft.ext.EvalOps.prAuc(Tables.documents(s, d))),
    // Murphy decomposition of the Brier score over calibration deciles
    "q_brier_decomp" -> ((s, d) =>
      graft.ext.EvalOps.brierDecomp(Tables.documents(s, d))),
    // entropy rate of the event-type Markov chain + predictability gain
    "q_markov_entropy" -> ((s, d) =>
      EventAnalytics.markovEntropy(Tables.events(s, d))),
    // out-of-order-arrival audit (the watermark-delay budget report)
    "q_ooo_audit" -> ((s, d) =>
      EventAnalytics.oooAudit(Tables.events(s, d))),
    // weekday-seasonality strength of the daily-revenue series
    "q_seasonal_strength" -> ((s, d) =>
      EventAnalytics.seasonalStrength(Tables.events(s, d))),
    // SAX symbolization of the z-normalized daily-revenue series
    "q_sax" -> ((s, d) =>
      StatsAnalytics.saxDaily(Tables.events(s, d))),
    // user-level Poisson bootstrap CI (the honest clustered resample)
    "q_cluster_bootstrap" -> ((s, d) =>
      StatsAnalytics.clusterBootstrap(Tables.events(s, d))),
    // audience intersection via HLL inclusion-exclusion vs exact
    "q_hll_intersect" -> ((s, d) =>
      EventAnalytics.hllIntersect(Tables.events(s, d))),
    // per-column stats drift between calendar halves
    "q_stats_drift" -> ((s, d) =>
      EventAnalytics.statsDrift(Tables.events(s, d))),
    // ABC / Pareto classification of the part catalog by revenue
    "q_abc" -> ((s, d) =>
      StarAnalytics.abcClassification(Tables.lineitem(s, d))),
    // symmetric price-volume revenue bridge between calendar halves
    "q_rev_bridge" -> ((s, d) =>
      StarAnalytics.revenueBridge(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // per-brand discount elasticity via grouped OLS sums
    "q_discount_elasticity" -> ((s, d) =>
      StarAnalytics.discountElasticity(Tables.lineitem(s, d),
        Tables.part(s, d))),
    // min-length quality-gate tuning sweep (one pass, all cutoffs)
    "q_length_sweep" -> ((s, d) =>
      graft.ext.Curation.lengthSweep(Tables.documents(s, d))),
    // Ljung-Box portmanteau test over the daily-revenue ACF
    "q_ljung_box" -> ((s, d) =>
      StatsAnalytics.ljungBox(Tables.events(s, d))),
    // STL-lite additive decomposition of the daily-revenue series
    "q_stl_lite" -> ((s, d) =>
      StatsAnalytics.stlLite(Tables.events(s, d))),
    // rich-club coefficient of the co-purchase graph
    "q_rich_club" -> ((s, d) =>
      graft.analytics.GraphAnalytics.richClub(s, d)),
    // two-component Gaussian-mixture EM, three unrolled rounds
    "q_gmm_em" -> ((s, d) =>
      StatsAnalytics.gmmEm(Tables.events(s, d))),
    // one ALS half-step: closed-form per-user ridge solves at k=2
    "q_als_step" -> ((s, d) =>
      graft.ext.EvalOps.alsUserStep(s, d)),
    // ABC-XYZ inventory matrix (revenue classes x weekly-demand CV)
    "q_abc_xyz" -> ((s, d) =>
      StarAnalytics.abcXyz(Tables.lineitem(s, d), Tables.orders(s, d))),
    // PACF lags 1-3 via closed-form Durbin-Levinson over the ACF
    "q_pacf" -> ((s, d) =>
      StatsAnalytics.pacfDaily(Tables.events(s, d))),
    // structured-content census (urls/emails/numbers/code, digit ratio)
    "q_content_census" -> ((s, d) =>
      graft.ext.TextAnalysis.contentCensus(Tables.documents(s, d))),
    // order-to-first-ship lag distribution per priority
    "q_fulfillment_lag" -> ((s, d) =>
      StarAnalytics.fulfillmentLag(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // Croston intermittent-demand forecast (closed-form EWMA unroll)
    "q_croston" -> ((s, d) =>
      StarAnalytics.crostonForecast(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // Laspeyres / Paasche / Fisher price indices between halves
    "q_price_index" -> ((s, d) =>
      StarAnalytics.priceIndex(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // exponential-decay fit of the pooled retention curve
    "q_retention_halflife" -> ((s, d) =>
      EventAnalytics.retentionHalfLife(Tables.events(s, d))),
    // active-learning uncertainty-sampling batch selection
    "q_uncertainty_batch" -> ((s, d) =>
      graft.ext.EvalOps.uncertaintyBatch(Tables.documents(s, d))),
    // knee / optimal operating point of the gains curve
    "q_knee_point" -> ((s, d) =>
      graft.ext.EvalOps.gainsKnee(Tables.documents(s, d))),
    // Neyman allocation of a labeling budget across sources
    "q_neyman_alloc" -> ((s, d) =>
      graft.ext.Curation.neymanAllocation(Tables.documents(s, d))),
    // data-skipping effectiveness: natural vs z-order file pruning
    "q_skip_stats" -> ((s, d) =>
      graft.operators.ZOrder.skipStats(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey")),
    // small-file compaction planner (cumulative next-fit bin packing)
    "q_compaction_plan" -> ((s, d) =>
      graft.operators.ZOrder.compactionPlan(Tables.documents(s, d))),
    // Bloom prefilter false-positive audit on disjoint key cohorts
    "q_bloom_fpr" -> ((s, d) =>
      graft.operators.BloomPrefilter.fprAudit(Tables.part(s, d))),
    // watermark-delay what-if sweep (late-drop rate per delay)
    "q_watermark_sweep" -> ((s, d) =>
      EventAnalytics.watermarkSweep(Tables.events(s, d))),
    // top-k revenue leaderboard drift between calendar halves
    "q_topk_drift" -> ((s, d) =>
      StarAnalytics.topkDrift(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // seasonal-naive one-step backtest (lag-7 forecasts)
    "q_forecast_snaive" -> ((s, d) =>
      StatsAnalytics.forecastSeasonalNaive(Tables.events(s, d))),
    // one-day VaR / CVaR of the daily-revenue change series
    "q_revenue_var" -> ((s, d) =>
      StatsAnalytics.revenueVar(Tables.events(s, d))),
    // train/val/test exact-fingerprint contamination audit
    "q_split_contamination" -> ((s, d) =>
      graft.ext.DedupExt.splitContamination(Tables.documents(s, d))),
    // consensus anomaly report (>=2 of z / fences / MAD agree)
    "q_anomaly_consensus" -> ((s, d) =>
      StatsAnalytics.anomalyConsensus(Tables.events(s, d))),
    // cross-correlation of daily revenue vs daily volume, lags -7..7
    "q_ccf" -> ((s, d) =>
      StatsAnalytics.ccfDaily(Tables.events(s, d))),
    // drawdown report on the daily-revenue series
    "q_drawdown" -> ((s, d) =>
      StatsAnalytics.drawdownReport(Tables.events(s, d))),
    // always-valid sequential test (mSPRT) over the A/B conversion stream
    "q_msprt" -> ((s, d) =>
      StatsAnalytics.msprt(Tables.events(s, d))),
    // equal-weight forecast combination vs its member arms
    "q_forecast_combo" -> ((s, d) =>
      StatsAnalytics.forecastCombo(Tables.events(s, d))),
    // weight-of-evidence / information-value feature screen
    "q_woe_iv" -> ((s, d) =>
      StatsAnalytics.woeIv(Tables.customer(s, d), Tables.orders(s, d))),
    // stratified inverse-propensity-weighted ATE (Hajek)
    "q_ipw_ate" -> ((s, d) =>
      StatsAnalytics.ipwAte(Tables.orders(s, d), Tables.customer(s, d))),
    // MCC / balanced accuracy / Youden's J for the churn baseline
    "q_mcc" -> ((s, d) =>
      EventAnalytics.mccReport(Tables.events(s, d))),
    // closed-form standardized ridge path (correlation space)
    "q_ridge" -> ((s, d) =>
      StatsAnalytics.ridgeCorr(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Dunning G^2 collocations (significance-aware PMI sibling)
    "q_collocations" -> ((s, d) =>
      graft.ext.TextAnalysis.llrCollocations(Tables.documents(s, d))),
    // segmented type-token ratio (length-robust lexical diversity)
    "q_segment_ttr" -> ((s, d) =>
      graft.ext.TextAnalysis.segmentTtr(Tables.documents(s, d))),
    // RAKE keyword extraction over stopword-delimited phrase runs
    "q_rake_keywords" -> ((s, d) =>
      graft.ext.TextAnalysis.rakeKeywords(Tables.documents(s, d))),
    // candidate-key uniqueness census over a fixed combo list
    "q_key_discovery" -> ((s, d) =>
      graft.operators.DataContract.candidateKeys("orders",
        Tables.orders(s, d), KeyDiscoveryCombos)),
    // price/volume/mix decomposition by segment across calendar halves
    "q_mix_variance" -> ((s, d) =>
      StarAnalytics.mixVariance(Tables.orders(s, d),
        Tables.customer(s, d))),
    // Markov removal-effect attribution over purchase-split journeys
    "q_markov_attribution" -> ((s, d) =>
      EventAnalytics.markovAttribution(Tables.events(s, d))),
    // product-quantization ADC recall gate (4x16 codebooks)
    "q_pq_recall" -> ((s, d) =>
      graft.ext.Similarity.pqRecall(Tables.embeddings(s, d))),
    // stream-stream interval join: purchases within 30min of a click
    "q_stream_interval_join" -> ((s, d) => {
      val ev = graft.streaming.EventStream.readEventsStream(s, d)
      graft.streaming.EventStream
        .runAvailableNow(
          graft.streaming.EventStream.streamIntervalJoin(ev), "append")
        .orderBy("user_id", "click_id", "purchase_id")
    }),
    // exact Shapley channel attribution over (user, day) coalitions
    "q_shapley_attribution" -> ((s, d) =>
      EventAnalytics.shapleyAttribution(Tables.events(s, d))),
    // Kneser-Ney bigram perplexity on the held-out doc slice
    "q_kneser_ney" -> ((s, d) =>
      graft.ext.TextAnalysis.kneserNey(Tables.documents(s, d))),
    // Gopher duplicate/top n-gram repetition gates per document
    "q_gopher_repetition" -> ((s, d) =>
      graft.ext.TextAnalysis.gopherRepetition(Tables.documents(s, d))),
    // Hill tail-index estimator over the top order values
    "q_hill_tail" -> ((s, d) =>
      StatsAnalytics.hillTail(Tables.orders(s, d))),
    // Kruskal-Wallis rank ANOVA of order frequency across segments
    "q_kruskal_wallis" -> ((s, d) =>
      StatsAnalytics.kruskalWallis(Tables.orders(s, d),
        Tables.customer(s, d))),
    // empirical-Bayes beta-binomial shrinkage of purchase rates
    "q_eb_shrinkage" -> ((s, d) =>
      StatsAnalytics.ebShrinkage(Tables.events(s, d))),
    // Church-Gale term burstiness vs the Poisson expectation
    "q_term_burstiness" -> ((s, d) =>
      graft.ext.TextAnalysis.termBurstiness(s, d)),
    // Heaps'-law vocabulary-growth curve + log-log (K, beta) fit
    "q_heaps_law" -> ((s, d) =>
      graft.ext.TextAnalysis.heapsLaw(s, d)),
    // Simpson's-paradox screen: pooled vs stratified OLS slopes
    "q_simpson_check" -> ((s, d) =>
      StatsAnalytics.simpsonCheck(Tables.lineitem(s, d))),
    // one-way ANOVA F of order frequency across segments
    "q_anova_f" -> ((s, d) =>
      StatsAnalytics.anovaF(Tables.orders(s, d), Tables.customer(s, d))),
    // Levene mean-centered variance-homogeneity test (same design)
    "q_levene" -> ((s, d) =>
      StatsAnalytics.levene(Tables.orders(s, d), Tables.customer(s, d))),
    // margin-based mutual-NN bitext mining over the embedding pools
    "q_bitext_mine" -> ((s, d) =>
      graft.ext.Similarity.bitextMine(Tables.embeddings(s, d))),
    // the LSH-bucketed bitext-mining scale sibling + recall audit
    "q_bitext_mine_lsh" -> ((s, d) =>
      graft.ext.Similarity.bitextMineLsh(Tables.embeddings(s, d))),
    // sparse tf-idf cosine pairs via the inverted index
    "q_tfidf_pairs" -> ((s, d) =>
      graft.ext.TextAnalysis.tfidfPairs(s, d)),
    // geometric adstock carryover sweep vs daily revenue
    "q_adstock" -> ((s, d) =>
      EventAnalytics.adstockSweep(Tables.events(s, d),
        decays = AdstockDecays)),
    // McNemar paired test: recency vs frequency churn baselines
    "q_mcnemar" -> ((s, d) =>
      EventAnalytics.mcnemarBaselines(Tables.events(s, d))),
    // hash-relabeling permutation test of the two-arm mean diff
    "q_permutation_test" -> ((s, d) =>
      EventAnalytics.permutationTest(Tables.events(s, d))),
    // post-hoc pairwise segment contrasts on the ANOVA design
    "q_pairwise_contrasts" -> ((s, d) =>
      StatsAnalytics.pairwiseContrasts(Tables.orders(s, d),
        Tables.customer(s, d))),
    // cross-language vocabulary Jaccard (code-switch audit)
    "q_lang_vocab_overlap" -> ((s, d) =>
      graft.ext.TextAnalysis.langVocabOverlap(s, d)),
    // embedding isotropy: exact mean pairwise cosine, zero pairs
    "q_isotropy" -> ((s, d) =>
      graft.ext.Similarity.embeddingIsotropy(Tables.embeddings(s, d))),
    // newsvendor critical-fractile stocking quantile per part
    "q_newsvendor" -> ((s, d) =>
      StarAnalytics.newsvendor(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // linear-MMD drift between the label cohorts (zero pairs)
    "q_embedding_drift" -> ((s, d) =>
      graft.ext.Similarity.embeddingDrift(Tables.embeddings(s, d))),
    // participation-ratio effective rank of the covariance spectrum
    "q_effective_rank" -> ((s, d) =>
      graft.ext.Similarity.effectiveRank(Tables.embeddings(s, d))),
    // clustering-vs-label purity and NMI on the IVF assignment
    "q_cluster_nmi" -> ((s, d) =>
      graft.ext.Similarity.clusterLabelAgreement(Tables.embeddings(s, d))),
  )


  /** Messy Amazon-sale-report rows synthesized from `orders` (mixed date
    * formats, blank amounts with ₹-decorated unit rates). localCheckpoint:
    * the synthesized raw frame stands in for the loader's staged CSV scan —
    * without the barrier CollapseProject inlines the date_format/when
    * synthesis into every one of the normalizer's ~20 references to these
    * columns (measured 3×). */
  private def amazonRawSynth(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.select(
      col("o_orderkey").cast("string").as("Order ID"),
      when(col("o_orderkey") % 2 === 0,
          date_format(col("o_orderdate"), "MM-dd-yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .as("Date"),
      (col("o_orderkey") % 5 + 1).cast("string").as("Qty"),
      when(col("o_orderkey") % 7 === 0, lit(""))
        .otherwise(concat(lit("$"), col("o_totalprice").cast("string")))
        .as("Amount"),
      when(col("o_orderkey") % 7 === 0,
          concat(lit("₹"), (col("o_totalprice") /
            (col("o_orderkey") % 5 + 1)).cast("string")))
        .otherwise(lit("")).as("Rate"),
      lit(null).cast("string").as("currency"))
      // the staged scan this synth stands in for would arrive as many CSV
      // splits; the single-split orders fixture would otherwise freeze a
      // ONE-partition layout into the checkpoint and serialize the whole
      // regex-heavy normalizer behind it
      .repartition(s.sessionState.conf.numShufflePartitions)
      .localCheckpoint()
  }


  /** Messy intl-sale-report rows (mixed date-token shapes, blank
    * customers, float-decorated PCS, ₹-decorated gross). Same
    * localCheckpoint barrier rationale as amazonRawSynth. */
  private def intlRawSynth(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val tok2y = lpad((year(col("o_orderdate")) - 1980).cast("string"),
      2, "0")
    val dateTok = when(col("o_orderkey") % 11 === 0,
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .otherwise(concat(date_format(col("o_orderdate"), "MM-dd-"), tok2y))
    o.select(
      dateTok.as("DATE"),
      when(col("o_orderkey") % 13 === 0, lit(""))
        .otherwise(concat(lit("cust_"),
          (col("o_custkey") % 100).cast("string")))
        .as("CUSTOMER"),
      concat(lit("sku_"), (col("o_orderkey") % 997).cast("string"))
        .as("SKU"),
      concat((col("o_orderkey") % 9).cast("string"), lit(".7")).as("PCS"),
      (col("o_totalprice") / lit(100.0)).cast("string").as("RATE"),
      concat(lit("₹"), col("o_totalprice").cast("string"))
        .as("GROSS AMT"),
      lit(null).cast("string").as("currency"))
      // same staged-scan parallelism rationale as amazonRawSynth
      .repartition(s.sessionState.conf.numShufflePartitions)
      .localCheckpoint()
  }


  /** Shared canonical intl-sales frame for q_kaggle_intl / q_upsert_intl:
    * the messy synth pushed through the S5/F4 normalizer. Memoized per
    * (session, fixture dir) behind a localCheckpoint like
    * StarAnalytics.coPurchaseCounts — both consumers previously re-ran
    * the regex-heavy normalizer over the full synth per bench run. */
  private def intlCanonical(s: SparkSession, d: String): DataFrame =
    Shared(s, s"intl@$d")(
      graft.ingest.KaggleNormalizer.normalizeInternationalSales(
        intlRawSynth(s, d)).localCheckpoint())


  /** Profiling-query table loader: events must go through the
    * ts-encoding-adaptive `Tables.events` (see its scaladoc) even though
    * the profiled columns never touch `ts`. */
  private def profTable(s: org.apache.spark.sql.SparkSession, d: String,
                        name: String): org.apache.spark.sql.DataFrame =
    if (name == "events") Tables.events(s, d) else Tables.table(s, d, name)

  /** The q_key_discovery profiling contract lives in [[OracleCtes]] with
    * the other shared literals; re-exported here because tests reference
    * it as a SparkEntry member. */
  val KeyDiscoveryCombos: Seq[Seq[String]] = OracleCtes.KeyDiscoveryCombos

  /** Stitched from the per-family OracleSql* shards (split in round 10,
    * VERDICT item 6). The require is load-bearing: Map ++ silently keeps
    * the right-hand value on a key collision, which would make a
    * duplicated oracle key shadow a query with the WRONG oracle instead
    * of failing the build. */
  def oracleSql: Map[String, String] = {
    val shards = Seq(OracleSqlEtl.sql, OracleSqlStats.sql,
      OracleSqlCorpus.sql, OracleSqlEval1.sql, OracleSqlEval2.sql)
    val m = shards.reduce(_ ++ _)
    require(m.size == shards.map(_.size).sum,
      s"duplicate oracle key across shards: ${m.size} != " +
      s"${shards.map(_.size).sum}")
    m
  }
}
