package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic.GraftTestBridge
import graft.warehouse.StarWarehouse

/** End-to-end pipeline test over reference-shaped synthetic input
  * (mirrors /root/reference/scripts/generate_events.py:23-49: invalid event
  * types, null-ish user ids, one bad timestamp, a duplicate event_id, a
  * malformed JSON line, a line missing required fields) — then the
  * idempotence invariant: running the pipeline twice leaves the warehouse
  * exactly as one run (SURVEY.md §2.9: exactly-once via deterministic
  * replay). */
class PipelineSpec extends SparkSpec {

  private def writeFixtures(dir: String): (String, String) = {
    val events = Seq(
      """{"event_id":"e1","ts":"2024-03-01T10:00:00Z","event":"pageview","user_id":"u1","amount":"10.5"}""",
      """{"event_id":"e2","ts":"2024-03-01T11:00:00Z","event":"Page View","user_id":"u2"}""",
      """{"event_id":"e3","ts":"2024-03-01T12:00:00Z","event":"signup","user_id":"u1"}""",
      """{"event_id":"e4","ts":"2024-03-02T09:00:00Z","event":"purchase","user_id":"u2","amount":"99.99"}""",
      """{"event_id":"e4","ts":"2024-03-02T10:30:00Z","event":"purchase","user_id":"u2","amount":"120.00"}""",
      """{"event_id":"e5","ts":"2024-03-02T09:30:00Z","event":"refund_requested","user_id":"u3"}""",
      """{"event_id":"e6","ts":"BAD_TIME","event":"pageview","user_id":"u1"}""",
      """{"event_id":"e7","ts":"2024-03-02T11:00:00Z","event":"purchase","user_id":"nan","amount":"5"}""",
      """{"ts":"2024-03-02T12:00:00Z","event":"pageview"}""",
      """this is not json at all"""
    ).mkString("\n")
    val users = "user_id,country,signup_source\nu1,DE,organic\nu2,US,ads\nu9,FR,organic\n"
    val ep = Paths.get(dir, "events.jsonl")
    val up = Paths.get(dir, "users.csv")
    Files.writeString(ep, events)
    Files.writeString(up, users)
    (ep.toString, up.toString)
  }

  /** dim_dates holds exactly one row per valid date, and the only
    * generations on disk are the ones `_CURRENT` names. */
  private def assertDatesAndOnlyLiveGenerations(root: String,
                                                dates: Seq[String]): Unit = {
    val wh = new graft.warehouse.StarWarehouse(spark, root)
    assert(wh.read("dim_dates").collect()
      .map(_.getAs[String]("date_key")).toSeq.sorted == dates)
    assert(WarehouseFiles.generations(root) ==
      WarehouseFiles.pointer(root).sorted)
  }

  /** `Pipeline.run` released every pin it made (`cleaned`, the intl
    * merge's checkpoint). Checked as "no id added": an earlier suite's pin
    * may be unpersisted by the context cleaner meanwhile. */
  private def assertNoPinLeft(before: Set[Int]): Unit = {
    val left = Shared.persisted(spark) -- before
    assert(left.isEmpty, s"pins outlived Pipeline.run: $left")
  }

  test("pipeline end-to-end: quarantine, dedup, star load, exports") {
    val dir = Files.createTempDirectory("graft_e2e").toString
    val (ev, us) = writeFixtures(dir)
    val pins = Shared.persisted(spark)
    val report = Pipeline.run(spark, ev, us, s"$dir/wh", s"$dir/out")
    assertNoPinLeft(pins)

    // good rows: e1,e2,e3,e4(dedup→1),e7 = 5; bad: e5,e6,missing,garbage
    assert(report.metrics("rows_out") == 5L)
    assert(report.metrics("invalid_event_type") == 1L)
    assert(report.metrics("bad_records_total") == 4L)

    val wh = new graft.warehouse.StarWarehouse(spark, s"$dir/wh")
    val fact = wh.read("fact_events")
    assert(fact.count() == 5)
    // dedup kept the LATEST e4 (amount 120.00)
    val e4 = fact.filter(fact("event_id") === "e4").collect()(0)
    assert(e4.getAs[Double]("amount") == 120.0)
    // "nan" user scrubbed to null → not in dim_users; u9 has no events
    val dimUsers = wh.read("dim_users").collect().map(_.getString(0)).toSet
    assert(dimUsers == Set("u1", "u2"))
    // canonicalization: "Page View" → pageview in dim_event_types
    val types = wh.read("dim_event_types").collect()
      .map(_.getAs[String]("event")).toSet
    assert(types == Set("pageview", "signup", "purchase"))
    // exports exist with data
    assert(spark.read.option("header", "true").csv(s"$dir/out/dau")
      .count() > 0)
    assert(Files.exists(Paths.get(s"$dir/out/quality_report.json")))
  }

  private def writeIntlFixture(dir: String): String = {
    // Canonical intl-sales records (the Kaggle loader's staging output,
    // kaggle_amazon_sales_loader.py:234-246): two customers, two SKUs, one
    // duplicate sale_id (s2, later ts wins), and two null-customer rows that
    // the load must skip (load.py:184-186): s4 on a date no event has, s5
    // on a malformed date_key.
    val intl = Seq(
      """{"sale_id":"s1","ts":"2024-03-01T12:00:00","date_key":"2024-03-01","customer":"acme","sku":"sku_a","pcs":2,"rate":10.0,"gross_amt":20.0,"currency":"INR","source_dataset":"intl.csv"}""",
      """{"sale_id":"s2","ts":"2024-03-01T12:00:00","date_key":"2024-03-01","customer":"acme","sku":"sku_b","pcs":1,"rate":5.0,"gross_amt":5.0,"currency":"INR","source_dataset":"intl.csv"}""",
      """{"sale_id":"s2","ts":"2024-03-02T12:00:00","date_key":"2024-03-02","customer":"acme","sku":"sku_b","pcs":3,"rate":5.0,"gross_amt":15.0,"currency":"INR","source_dataset":"intl.csv"}""",
      """{"sale_id":"s3","ts":"2024-03-02T13:00:00","date_key":"2024-03-02","customer":"zenith","sku":"sku_a","pcs":4,"rate":2.5,"gross_amt":10.0,"currency":"USD","source_dataset":"intl.csv"}""",
      """{"sale_id":"s4","ts":"2024-02-29T14:00:00","date_key":"2024-02-29","customer":null,"sku":"sku_a","pcs":1,"rate":1.0,"gross_amt":1.0,"currency":"INR","source_dataset":"intl.csv"}""",
      """{"sale_id":"s5","ts":"2024-03-02T15:00:00","date_key":"2024-13-01","customer":null,"sku":"sku_a","pcs":1,"rate":1.0,"gross_amt":1.0,"currency":"INR","source_dataset":"intl.csv"}"""
    ).mkString("\n")
    val ip = Paths.get(dir, "international_sales.jsonl")
    Files.writeString(ip, intl)
    ip.toString
  }

  test("pipeline international branch: intl fact + dims + exports") {
    val dir = Files.createTempDirectory("graft_e2e_intl").toString
    val (ev, us) = writeFixtures(dir)
    val intl = writeIntlFixture(dir)
    val report = Pipeline.run(spark, ev, us, s"$dir/wh", s"$dir/out",
      intlJsonl = Some(intl))

    // s1, s2 (deduped keep-latest), s3; s4, s5 skipped (null customer)
    assert(report.metrics("intl_sales_rows") == 3L)
    val wh = new graft.warehouse.StarWarehouse(spark, s"$dir/wh")
    val fact = wh.read("fact_international_sales")
    assert(fact.count() == 3)
    val s2 = fact.filter(fact("sale_id") === "s2").collect()(0)
    assert(s2.getAs[Double]("gross_amt") == 15.0)
    assert(s2.getAs[String]("date_key") == "2024-03-02")
    // surrogate keys: sorted insertion order (load.py:108-131)
    val cust = wh.read("dim_customers").collect()
      .map(r => r.getAs[String]("customer_name") ->
        r.getAs[Long]("customer_id")).toMap
    assert(cust == Map("acme" -> 1L, "zenith" -> 2L))
    val prod = wh.read("dim_products").collect()
      .map(r => r.getAs[String]("sku") -> r.getAs[Long]("product_id")).toMap
    assert(prod == Map("sku_a" -> 1L, "sku_b" -> 2L))
    // dim_dates covers the intl date_keys too (load.py:158-160)
    val dates = wh.read("dim_dates").collect()
      .map(_.getAs[String]("date_key")).toSet
    assert(Set("2024-03-01", "2024-03-02").subsetOf(dates))
    // all five analytics exports + the preview exist (run_pipeline.py:82-102,
    // analytics.py:130-150)
    for (e <- Seq("dau", "revenue", "event_counts", "funnel",
        "international_revenue", "fact_events_preview"))
      assert(spark.read.option("header", "true").csv(s"$dir/out/$e")
        .columns.nonEmpty, s"export $e missing")
    val intlRev = spark.read.option("header", "true")
      .csv(s"$dir/out/international_revenue")
    assert(intlRev.columns.toSeq == Seq("event_date", "intl_revenue"))
    assert(intlRev.count() == 2) // two distinct sale dates
    val preview = spark.read.option("header", "true")
      .csv(s"$dir/out/fact_events_preview")
    assert(preview.columns.toSeq == Seq("event_id", "ts", "user_id",
      "event_type_id", "amount", "event_date", "event_hour", "country",
      "signup_source"))
    assert(preview.count() == 5) // all 5 fact rows (< LIMIT 50)
    // u1's country resolved through the dim_users left join
    val p1 = preview.filter(preview("event_id") === "e1").collect()(0)
    assert(p1.getAs[String]("country") == "DE")
  }

  test("pipeline without intl file: empty intl export, no intl tables") {
    val dir = Files.createTempDirectory("graft_e2e_noint").toString
    val (ev, us) = writeFixtures(dir)
    Pipeline.run(spark, ev, us, s"$dir/wh", s"$dir/out",
      intlJsonl = Some(s"$dir/does_not_exist.jsonl"))
    val wh = new graft.warehouse.StarWarehouse(spark, s"$dir/wh")
    assert(!wh.tableExists("fact_international_sales"))
    // the fallback export still exists with the 2-column header
    // (analytics.py:139-142)
    val intlRev = spark.read.option("header", "true")
      .csv(s"$dir/out/international_revenue")
    assert(intlRev.columns.toSeq == Seq("event_date", "intl_revenue"))
    assert(intlRev.count() == 0)
  }

  test("intl branch is idempotent: replaying the same batch is a no-op") {
    val dir = Files.createTempDirectory("graft_e2e_intl2").toString
    val (ev, us) = writeFixtures(dir)
    val intl = writeIntlFixture(dir)
    Pipeline.run(spark, ev, us, s"$dir/wh", s"$dir/out", Some(intl))
    val wh = new graft.warehouse.StarWarehouse(spark, s"$dir/wh")
    val snap1 = wh.read("fact_international_sales").orderBy("sale_id")
      .collect().toSeq
    val cust1 = wh.read("dim_customers").orderBy("customer_id")
      .collect().toSeq
    Pipeline.run(spark, ev, us, s"$dir/wh", s"$dir/out", Some(intl))
    val snap2 = wh.read("fact_international_sales").orderBy("sale_id")
      .collect().toSeq
    val cust2 = wh.read("dim_customers").orderBy("customer_id")
      .collect().toSeq
    assert(snap1 == snap2)
    assert(cust1 == cust2)
    // events bring 03-01 and 03-02, intl 03-01, 03-02 and 02-29
    assertDatesAndOnlyLiveGenerations(s"$dir/wh",
      Seq("2024-02-29", "2024-03-01", "2024-03-02"))
  }

  test("pipeline is idempotent: second run leaves warehouse unchanged") {
    val dir = Files.createTempDirectory("graft_e2e2").toString
    val (ev, us) = writeFixtures(dir)
    Pipeline.run(spark, ev, us, s"$dir/wh", s"$dir/out")
    val wh = new graft.warehouse.StarWarehouse(spark, s"$dir/wh")
    val snap1 = wh.read("fact_events").orderBy("event_id").collect().toSeq
    val types1 = wh.read("dim_event_types").orderBy("event_type_id")
      .collect().toSeq
    Pipeline.run(spark, ev, us, s"$dir/wh", s"$dir/out")
    val snap2 = wh.read("fact_events").orderBy("event_id").collect().toSeq
    val types2 = wh.read("dim_event_types").orderBy("event_type_id")
      .collect().toSeq
    assert(snap1 == snap2)
    assert(types1 == types2)
    assertDatesAndOnlyLiveGenerations(s"$dir/wh",
      Seq("2024-03-01", "2024-03-02"))
  }

  test("a failing concurrent step rethrows its error, no sibling job left") {
    val dir = Files.createTempDirectory("graft_e2e_fail").toString
    val (ev, us) = writeFixtures(dir)
    val intl = writeIntlFixture(dir)
    // every warehouse write fails: its root lies under a regular file,
    // while the quarantine write beside them in stage 1 succeeds
    val file = Files.writeString(Paths.get(dir, "plain_file"), "x")
    val pins = Shared.persisted(spark)
    val e = intercept[org.apache.hadoop.fs.ParentNotDirectoryException](
      Pipeline.run(spark, ev, us, s"$file/wh", s"$dir/out", Some(intl)))
    org.apache.spark.sql.classic.GraftTestBridge
      .drainListenerBus(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assertNoPinLeft(pins)
    // the first failing step in stage 1 is dim_users: its own exception,
    // thrown on its own thread, reaches the caller
    assert(e.getMessage.contains(file.toString), e.getMessage)
    assert(e.getStackTrace.exists(_.getMethodName == "upsertDimUsers"))
    // the quarantine sink is an export: written only after the commit
    assert(!Files.exists(Paths.get(dir, "out", "bad_records")))
  }

  /** A second batch for [[writeFixtures]] + [[writeIntlFixture]] that
    * changes every table: e4 gets a later version, u9's first event brings
    * a new user and date, and a new customer, SKU and date reach the intl
    * branch. */
  private def writeSecondBatch(dir: String): (String, String) = {
    val events = Seq(
      """{"event_id":"e4","ts":"2024-03-02T11:30:00Z","event":"purchase","user_id":"u2","amount":"150.00"}""",
      """{"event_id":"e8","ts":"2024-03-03T08:00:00Z","event":"signup","user_id":"u9"}"""
    ).mkString("\n")
    val intl = Seq(
      """{"sale_id":"s1","ts":"2024-03-01T18:00:00","date_key":"2024-03-01","customer":"acme","sku":"sku_a","pcs":3,"rate":10.0,"gross_amt":30.0,"currency":"INR","source_dataset":"intl.csv"}""",
      """{"sale_id":"s6","ts":"2024-03-04T09:00:00","date_key":"2024-03-04","customer":"orbit","sku":"sku_c","pcs":1,"rate":7.0,"gross_amt":7.0,"currency":"USD","source_dataset":"intl.csv"}"""
    ).mkString("\n")
    val ep = Files.writeString(Paths.get(dir, "events2.jsonl"), events)
    val ip = Files.writeString(Paths.get(dir, "international_sales2.jsonl"), intl)
    (ep.toString, ip.toString)
  }

  /** The warehouse as a reader sees it: `_CURRENT`'s bytes and every
    * table's rows. */
  private def state(root: String): (String, Map[String, Seq[String]]) = {
    val wh = new graft.warehouse.StarWarehouse(spark, root)
    val tables = WarehouseFiles.pointer(root).map(_.split("/")(1))
    (Files.readString(Paths.get(root, "_CURRENT")),
      tables.map(t => t -> wh.read(t).collect().map(_.toString).toSeq.sorted)
        .toMap)
  }

  test("a load that fails at any step leaves warehouse and exports as they " +
    "were, and a clean re-run equals one run") {
    val dir = Files.createTempDirectory("graft_e2e_faults").toString
    val (ev, us) = writeFixtures(dir)
    val intl = writeIntlFixture(dir)
    val (ev2, intl2) = writeSecondBatch(dir)
    val (root, out) = (s"$dir/wh", s"$dir/out")
    Pipeline.run(spark, ev, us, root, out, Some(intl))
    val before = state(root)
    val exports = WarehouseFiles.files(out)
    assert(before._2.keySet == Set("dim_users", "dim_event_types",
      "dim_dates", "dim_customers", "dim_products", "fact_events",
      "fact_international_sales"))
    // batch 2's generation: every table it writes, then the staged
    // pointer it publishes. A fault at one of those paths fails that step.
    val next = Paths.get(root, "v2")
    for (step <- before._2.keys.toSeq.sorted :+ "_CURRENT") {
      val fault = next.resolve(step)
      val e = intercept[Exception](FaultyCommit.failing(spark, fault)(
        Pipeline.run(spark, ev2, us, root, out, Some(intl2))))
      assert(e.getMessage.contains(fault.toString), s"$step: $e")
      assert(state(root) == before, step)
      assert(WarehouseFiles.files(out) == exports, step)
      // the failed load deleted its own generation
      assert(!Files.exists(next), step)
    }
    Pipeline.run(spark, ev2, us, root, out, Some(intl2))
    val once = s"$dir/wh_once"
    Pipeline.run(spark, ev, us, once, s"$dir/out_once", Some(intl))
    Pipeline.run(spark, ev2, us, once, s"$dir/out_once", Some(intl2))
    assert(state(root) == state(once))
    assert(state(root) != before)
    assertDatesAndOnlyLiveGenerations(root, Seq("2024-02-29", "2024-03-01",
      "2024-03-02", "2024-03-03", "2024-03-04"))
  }

  test("a generation a killed load left does not block the next load") {
    val dir = Files.createTempDirectory("graft_e2e_killed").toString
    val (ev, us) = writeFixtures(dir)
    val intl = writeIntlFixture(dir)
    val (ev2, intl2) = writeSecondBatch(dir)
    val (root, out) = (s"$dir/wh", s"$dir/out")
    Pipeline.run(spark, ev, us, root, out, Some(intl))
    // what a load killed mid-write leaves: a part file under the
    // generation batch 2 will write, which `_CURRENT` does not name
    val orphan = Paths.get(root, "v2", "dim_users", "part-0")
    Files.createDirectories(orphan.getParent)
    Files.writeString(orphan, "x")
    Pipeline.run(spark, ev2, us, root, out, Some(intl2))
    val once = s"$dir/wh_once"
    Pipeline.run(spark, ev, us, once, s"$dir/out_once", Some(intl))
    Pipeline.run(spark, ev2, us, once, s"$dir/out_once", Some(intl2))
    assert(state(root) == state(once))
    assert(WarehouseFiles.pointer(root).contains("v2/dim_users"))
    assertDatesAndOnlyLiveGenerations(root, Seq("2024-02-29", "2024-03-01",
      "2024-03-02", "2024-03-03", "2024-03-04"))
  }

  /** Each table's columns after [[writeFixtures]] + [[writeIntlFixture]]
    * and then [[writeSecondBatch]], as a reader that infers the schema from
    * the parquet files (and casts the `event_date` partition key back to
    * the contract's string) saw them: names, types and order. */
  private val TableColumns = Map(
    "dim_users" -> "user_id STRING, country STRING, signup_source STRING",
    "dim_event_types" -> "event STRING, event_type_id BIGINT",
    "dim_dates" -> "date_key STRING, year BIGINT, month BIGINT, day BIGINT",
    "dim_customers" -> "customer_name STRING, customer_id BIGINT",
    "dim_products" -> "sku STRING, product_id BIGINT",
    "fact_events" -> ("event_id STRING, ts TIMESTAMP, user_id STRING, " +
      "event_type_id BIGINT, amount DOUBLE, event_hour BIGINT, " +
      "event_date STRING"),
    "fact_international_sales" -> ("sale_id STRING, ts TIMESTAMP, " +
      "date_key STRING, customer_id BIGINT, product_id BIGINT, pcs INT, " +
      "rate DOUBLE, gross_amt DOUBLE, currency STRING, source_dataset STRING"))

  private def columns(df: org.apache.spark.sql.DataFrame): String =
    df.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  test("warehouse reads take each table's recorded schema and start no job") {
    val dir = Files.createTempDirectory("graft_e2e_reads").toString
    val (ev, us) = writeFixtures(dir)
    val intl = writeIntlFixture(dir)
    val (ev2, intl2) = writeSecondBatch(dir)
    val (root, out) = (s"$dir/wh", s"$dir/out")
    Pipeline.run(spark, ev, us, root, out, Some(intl))
    // the call site of every job that batch 2 and the reads after it
    // start: its result stage's, the newest (parent stages an adaptive
    // plan submitted earlier carry their own map-stage jobs' sites)
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(j.stageInfos.maxByOption(_.stageId).fold("")(_.details))
    }
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val read = try {
      Pipeline.run(spark, ev2, us, root, out, Some(intl2))
      val wh = new StarWarehouse(spark, root)
      TableColumns.keys.map(t => t -> columns(wh.read(t))).toMap
    } finally {
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(read == TableColumns)
    val all = sites.asScala.toSeq
    // call sites do carry graft frames (the users CSV's inference job) ...
    assert(all.exists(_.contains("graft.Pipeline$.run(")), all)
    // ... but none is a warehouse read's (schema inference, or listing)
    assert(!all.exists(_.contains("readAt(")),
      all.filter(_.contains("readAt(")).mkString("\n---\n"))
  }

  test("a table without its recorded schema fails naming table and path") {
    val dir = Files.createTempDirectory("graft_e2e_noschema").toString
    val (ev, us) = writeFixtures(dir)
    val root = s"$dir/wh"
    Pipeline.run(spark, ev, us, root, s"$dir/out")
    val gen = WarehouseFiles.pointer(root).find(_.endsWith("/dim_users")).get
    val recorded = Paths.get(root, gen, "_schema.json")
    Files.delete(recorded)
    val e = intercept[IllegalStateException](
      new StarWarehouse(spark, root).read("dim_users"))
    assert(e.getMessage.contains("dim_users") &&
      e.getMessage.contains(recorded.toString), e.getMessage)
  }
}
