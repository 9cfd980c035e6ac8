package graft

import org.apache.spark.sql.functions._
import graft.warehouse.StarWarehouse

/** Round-7-of-build additions: the batched intl warehouse load must be
  * bit-equal to sequential per-batch upserts — same fact rows, same
  * surrogate-id sequences (batch-2-first-seen keys extend batch 1's id
  * range), same dims. */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  private def intlBatch(rows: Seq[(String, String, String, String, String,
      Int, Double, Double, String)]) =
    rows.toDF("sale_id", "ts0", "date_key", "customer", "sku",
        "pcs", "rate", "gross_amt", "currency")
      .withColumn("ts", to_timestamp(col("ts0")))
      .drop("ts0")

  // batch 2 overlaps batch 1 on s2 (bumped rate = the UPDATE arm),
  // introduces a new customer AND a new sku (append-only id sequences),
  // and carries an in-batch duplicate sale_id (keep-latest arm)
  private def b1 = intlBatch(Seq(
    ("s1", "2024-01-01 10:00:00", "2024-01-01", "alice", "sku_a", 2, 10.0, 20.0, "INR"),
    ("s2", "2024-01-02 10:00:00", "2024-01-02", "bob", "sku_b", 1, 5.0, 5.0, "INR"),
    ("s3", "2024-01-03 10:00:00", "2024-01-03", "carol", "sku_a", 3, 7.0, 21.0, "INR")))

  private def b2 = intlBatch(Seq(
    ("s2", "2024-01-02 10:00:00", "2024-01-02", "bob", "sku_b", 1, 1005.0, 5.0, "INR"),
    ("s4", "2024-01-04 10:00:00", "2024-01-04", "dave", "sku_c", 4, 2.0, 8.0, "INR"),
    ("s4", "2024-01-04 10:00:00", "2024-01-04", "dave", "sku_c", 4, 3.0, 8.0, "INR")))

  private def dump(wh: StarWarehouse): (List[String], List[String], List[String]) = (
    wh.read("fact_international_sales")
      .select(concat_ws("|", col("sale_id"), col("date_key"),
        col("customer_id"), col("product_id"), col("pcs"), col("rate"),
        col("gross_amt"))).as[String].collect().toList.sorted,
    wh.read("dim_customers").select(concat_ws("|",
      col("customer_id"), col("customer_name"))).as[String]
      .collect().toList.sorted,
    wh.read("dim_products").select(concat_ws("|",
      col("product_id"), col("sku"))).as[String].collect().toList.sorted)

  test("batched intl load ≡ sequential upserts (fact, dims, id sequences)") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val seqRoot = "target/tmp/r15_seq_wh"
    val batRoot = "target/tmp/r15_bat_wh"
    Seq(seqRoot, batRoot).foreach(r =>
      fs.delete(new org.apache.hadoop.fs.Path(r), true))

    val whSeq = new StarWarehouse(spark, seqRoot)
    whSeq.load(None, Seq(b1))
    whSeq.load(None, Seq(b2))

    val whBat = new StarWarehouse(spark, batRoot)
    whBat.load(None, Seq(b1, b2))

    assert(dump(whBat) === dump(whSeq))
    // and the id fold really extends batch 1's range in sorted order:
    // alice/bob/carol = 1..3 (batch-1 sorted), dave = 4
    val custs = whBat.read("dim_customers")
      .select("customer_id", "customer_name")
      .as[(Long, String)].collect().toMap
    assert(custs === Map(1L -> "alice", 2L -> "bob", 3L -> "carol",
      4L -> "dave"))
    val prods = whBat.read("dim_products")
      .select("product_id", "sku").as[(Long, String)].collect().toMap
    assert(prods === Map(1L -> "sku_a", 2L -> "sku_b", 3L -> "sku_c"))
    // UPDATE arm: s2 carries batch 2's bumped rate
    val s2rate = whBat.read("fact_international_sales")
      .filter(col("sale_id") === "s2").select("rate")
      .as[Double].collect().toList
    assert(s2rate === List(1005.0))
  }

  test("curriculumScheduleScale: no ntile sort; sketch partial-aggregates") {
    val docs = Seq(
      (1L, "the cat and the dog is to a in the house"),
      (2L, "zz yy xx ww vv uu tt ss rr qq"),
      (3L, "the the the and and of of is is to"),
      (4L, "alpha beta the gamma of delta is epsilon"),
      (5L, "of to a in the and is of to a"),
      (6L, "one two three four five six seven the end"),
      (7L, "is it the best of times or the worst of times"),
      (8L, "no stop words here just nouns verbs things stuff")
    ).toDF("doc_id", "text")
    val q = graft.ext.TextAnalysis.curriculumScheduleScale(docs)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("ntile(4)"), s"ntile survived:\n$plan")
    assert(plan.contains("partial_percentile_approx"),
      s"boundary sketch must partial-aggregate map-side:\n$plan")
    // same doc mass and token budget as the exact form — boundary cuts
    // reshape stages on ties but never drop or double-count a doc
    val exact = graft.ext.TextAnalysis.curriculumSchedule(docs)
    val (nE, tE) = exact.agg(sum("n_docs"), sum("total_tokens"))
      .as[(Long, Long)].head()
    val (nS, tS) = q.agg(sum("n_docs"), sum("total_tokens"))
      .as[(Long, Long)].head()
    assert((nS, tS) === (nE, tE))
    val bad = q.filter(col("stage") < 1 || col("stage") > 4).count()
    assert(bad === 0L)
  }

  test("lorenzDecilesScale: no ntile sort; cum-share stays decile-bounded") {
    val orders = (1 to 40).map(i =>
      (i.toLong, s"1995-01-${"%02d".format(i % 28 + 1)}", i * 10.0))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val q = graft.analytics.StatsAnalytics.lorenzDecilesScale(orders)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("ntile(10)"), s"ntile survived:\n$plan")
    assert(plan.contains("partial_percentile_approx"),
      s"boundary sketch must partial-aggregate map-side:\n$plan")
    val exact = graft.analytics.StatsAnalytics.lorenzDeciles(orders)
    // all-distinct spends ⇒ boundary deciles == ranked deciles exactly
    val e = exact.as[(Long, Long, Double, Double)].collect().toList
    val s = q.as[(Long, Long, Double, Double)].collect().toList
    assert(s === e)
    // cumulative share ends at 1.0
    assert(s.last._4 === 1.0)
  }

  test("batched load onto an EXISTING warehouse matches sequential too") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val seqRoot = "target/tmp/r15_seq2_wh"
    val batRoot = "target/tmp/r15_bat2_wh"
    Seq(seqRoot, batRoot).foreach(r =>
      fs.delete(new org.apache.hadoop.fs.Path(r), true))
    // seed both warehouses with batch 1 the same way, then apply batch 2
    // + a batch 3 (reusing b1 rows = pure replay no-op) differently
    val whSeq = new StarWarehouse(spark, seqRoot)
    whSeq.load(None, Seq(b1))
    whSeq.load(None, Seq(b2))
    whSeq.load(None, Seq(b1))
    val whBat = new StarWarehouse(spark, batRoot)
    whBat.load(None, Seq(b1))
    whBat.load(None, Seq(b2, b1))
    assert(dump(whBat) === dump(whSeq))
  }
}
