package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CleanFns.r6

/** Star-schema read-side queries over the TPC-H-ish fixtures — the analog of
  * the reference's fact×dim joins (J2–J4, analytics.py:47,82,103;
  * run_pipeline.py:94-96) at warehouse scale.
  *
  * Join strategy: `nation`/`region` are forced broadcast — they are FIXED
  * size (25/5 rows) at every scale factor. `customer`/`orders` SCALE with
  * the data (≫ broadcast threshold at 100 TB) so their join strategy is
  * left to Catalyst/AQE: auto-broadcast under the threshold at test scale,
  * shuffled-hash / sort-merge with AQE skew-splitting at cluster scale.
  * Forcing broadcast on a scaling table would OOM the executors at 1000×.
  */
object StarAnalytics {

  /** Revenue per region×nation: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region, SUM(extendedprice*(1-discount)). */
  def regionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, sfDir).select("r_regionkey", "r_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")
  }

  /** TPC-H Q1-shaped pricing summary: full scan of the largest fixture
    * table with multi-measure aggregation into a handful of groups. The
    * canonical scan-throughput anchor — 4 columns read of 16 (pruning), the
    * date filter pushed to parquet, and partial aggregation collapses each
    * input partition to ≤|groups| rows before a shuffle that moves bytes,
    * not gigabytes. */
  def pricingSummary(spark: SparkSession, sfDir: String,
                     cutoff: String = "1998-09-02"): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit(cutoff))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q6-shaped selective revenue: a one-row aggregate behind THREE
    * range predicates, all of which must reach the parquet scan
    * (`PushedFilters` + row-group statistics skipping). The canonical
    * predicate-pushdown anchor: at 100 TB this query's cost is however
    * little of the table the scan statistics let it read — the plan has no
    * shuffle at all beyond the single-row partial-agg gather. */
  def selectiveRevenue(spark: SparkSession, sfDir: String,
                       from: String = "1994-01-01",
                       until: String = "1995-01-01"): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from) &&
        col("l_shipdate") < lit(until) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  /** TPC-H Q13-shaped customer order-count distribution: customers LEFT
    * JOIN orders (zero-order customers preserved), per-customer count,
    * then a second aggregate over the counts. The first aggregate shuffles
    * on custkey (count collapses map-side); the second runs over
    * |customers| rows of (custkey, count), and its output is ≤ max orders
    * per customer — driver-tiny. The left join keeps the empty tail a real
    * INNER join would silently drop. */
  def customerOrderDistribution(spark: SparkSession,
                                sfDir: String): DataFrame = {
    val perCust = Tables.customer(spark, sfDir).select("c_custkey")
      .join(Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q3-shaped shipping priority: segment-filtered customers ⋈
    * orders ⋈ lineitem, revenue per open order, true top-k. The filters
    * land on each scan BEFORE its join (predicate pushdown), the grouped
    * aggregate collapses lineitems per order map-side, and the final
    * ORDER BY+LIMIT plans as TakeOrderedAndProject — per-partition heap,
    * only k rows reach the driver. */
  def shippingPriority(spark: SparkSession, sfDir: String,
                       segment: String = "BUILDING",
                       date: String = "1996-06-30",
                       k: Int = 10): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === segment).select("c_custkey")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit(date))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit(date))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** TPC-H Q5-shaped local supplier volume: 6-table join where the supplier
    * must sit in the customer's nation. `nation`/`region` broadcast (fixed
    * size); `supplier` joins on (suppkey) with the nation-equality as a
    * post-join filter expressed in the join condition, so Catalyst keeps it
    * an equi-join on the key columns and AQE picks the physical strategy
    * for the scaling tables. */
  def localSupplierVolume(spark: SparkSession, sfDir: String,
                          region: String = "ASIA",
                          from: String = "1996-01-01",
                          until: String = "1997-01-01"): DataFrame = {
    val r = Tables.region(spark, sfDir)
      .filter(col("r_name") === region).select("r_regionkey")
    val n = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(from) &&
        col("o_orderdate") < lit(until))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    c.join(broadcast(n.join(broadcast(r),
        n("n_regionkey") === r("r_regionkey"))),
        c("c_nationkey") === n("n_nationkey"))
      .join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .join(s, li("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** O2 — top-k preview: true top-k (TakeOrderedAndProject — per-partition
    * heap + driver merge, no global sort; run_pipeline.py:97-98). Ties broken
    * by key for determinism. */
  def topOrders(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** J3+O2 — fact-preview analog: events LEFT JOIN customer (as the users
    * dim), earliest 50 by ts (run_pipeline.py:82-102). */
  def eventsPreview(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    ev.join(c, ev("user_id") === c("c_custkey"), "left")
      .select(col("event_id"),
        graft.functions.CleanFns.tsMicros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        col("c_name").as("user_name"))
      .orderBy(col("ts"), col("event_id"))
      .limit(k)
  }

  /** LEFT SEMI — customers with at least one order in the window. A semi
    * join ships only the join key from the build side and emits each probe
    * row at most once — no fact-side duplication, no post-join distinct
    * (the distinct-after-inner-join phrasing pays a second shuffle for the
    * same answer). */
  def activeCustomers(spark: SparkSession, sfDir: String,
      from: String = "1995-01-01", until: String = "1996-01-01"): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_mktsegment")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .orderBy("c_custkey")
  }

  /** LEFT ANTI — customers with no orders at all (the dormant set). Same
    * single-shuffle shape as the semi join; the anti side only ever moves
    * its key column. */
  def dormantCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_mktsegment")
    val o = Tables.orders(spark, sfDir).select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .orderBy("c_custkey")
  }

  /** TPC-H Q4-shaped late-shipment priority check: orders in a window that
    * have AT LEAST ONE lineitem shipping > `lateDays` after the order date,
    * counted per priority. The EXISTS phrases as a LEFT SEMI join with a
    * non-equi residual (l_shipdate > o_orderdate + N days) on top of the
    * orderkey equi-key — one shuffle on orderkey, each order emitted at
    * most once no matter how many late lineitems it has (the join-then-
    * distinct phrasing pays a second shuffle for the same answer). The date
    * window prunes the orders scan before the join. */
  def latePriorityOrders(spark: SparkSession, sfDir: String,
                         from: String = "1996-01-01",
                         until: String = "1997-01-01",
                         lateDays: Int = 60): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_shipdate")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate") +
          expr(s"INTERVAL $lateDays DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q14-shaped promo revenue share: one ship-month of lineitem ⋈
    * part, conditional-sum ratio. `part` scales with the data but the
    * month filter prunes lineitem first; the join key is partkey (shuffle
    * or broadcast per AQE) and the aggregate is a single row — the
    * conditional numerator rides the same pass as the denominator (one
    * scan, one join, no second aggregate). */
  def promoRevenueShare(spark: SparkSession, sfDir: String,
                        from: String = "1996-03-01",
                        until: String = "1996-04-01"): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_type")
    val net = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", net).otherwise(lit(0.0))) /
        sum(net), 4).as("promo_share"))
  }

  /** TPC-H Q16-shaped supplier variety: how many DISTINCT suppliers stock
    * each (brand, type, size) bucket, excluding a complaint set. The
    * observed (partkey, suppkey) pairs come from lineitem — distinct FIRST
    * (collapses the fact table to catalog size before any join), then an
    * anti join against the excluded suppliers (key-only shuffle), then the
    * part-attribute join and a count-distinct per bucket. */
  def supplierVariety(spark: SparkSession, sfDir: String,
                      sizes: Seq[Int] = Seq(1, 5, 9, 13, 17, 21, 25, 29),
                      excludeBrand: String = "Brand#1"): DataFrame = {
    val ps = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey").distinct()
    val excluded = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= excludeBrand &&
        col("p_size").isin(sizes.map(Integer.valueOf): _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    ps.join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q17-shaped small-quantity revenue: lineitems of one brand whose
    * quantity is below 20% of that part's corpus-wide average quantity.
    * The per-part average is a separate aggregate over lineitem (output is
    * |part|-sized — far smaller than the fact table) re-joined on partkey;
    * the brand filter prunes the part side before both joins. This is the
    * canonical correlated-scalar-subquery → aggregate-join decorrelation. */
  def smallQuantityRevenue(spark: SparkSession, sfDir: String,
                           brand: String = "Brand#23"): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") === brand).select("p_partkey")
    val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_limit"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < col("qty_limit"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  /** TPC-H Q18-shaped large-volume orders: orders whose total quantity
    * exceeds `minQty`, with customer names, top-k by volume. The HAVING
    * aggregate runs over lineitem alone (one shuffle on orderkey, map-side
    * partial sums) and its output — the big-order keys — is tiny, so both
    * enrichment joins are broadcast-able; the final ORDER BY + LIMIT plans
    * as TakeOrderedAndProject. */
  def largeVolumeOrders(spark: SparkSession, sfDir: String,
                        minQty: Double = 300.0, k: Int = 100): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(k)
  }

  /** TPC-H Q19-shaped disjunctive revenue: an OR of three (brand, size,
    * quantity) conjunctions across the lineitem ⋈ part boundary. Catalyst
    * factors the common `p_partkey` equi-key out of the disjunction so the
    * join stays hash-based, and pushes the per-side residuals (quantity
    * ranges to lineitem, brand/size to part) below the join — the
    * disjunction is evaluated on joined rows only where it must be. */
  def disjunctiveRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand", "p_size")
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#19" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    // exact integer-micros sum (the partHalves discipline): a plain
    // double sum of ~1.7e9 magnitude carries one-ulp order noise that
    // flipped the round-2 boundary at sf1
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(round(sum(floor(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * lit(1000000.0) + lit(0.5))
          .cast("bigint")).cast("double") / lit(1000000.0), 2)
        .as("revenue"))
  }

  /** TPC-H Q22-shaped idle high-balance accounts: customers whose balance
    * exceeds the average POSITIVE balance but who placed fewer than
    * `maxRecent` orders since `since`, rolled up per nation. (The literal
    * Q22 "never ordered" anti join is degenerate on this fixture — every
    * custkey has orders — so idleness is recency-bounded instead, which is
    * also the more realistic churn predicate.) The global average is a
    * one-row aggregate broadcast into the filter (scalar-subquery
    * decorrelation); the recent-order counts aggregate orders down to
    * ≤|customer| rows BEFORE the left join, so the join input is
    * dimension-sized on both sides. */
  def idleBalanceByNation(spark: SparkSession, sfDir: String,
                          since: String = "2000-01-01",
                          maxRecent: Int = 3): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(since).cast("timestamp"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_recent"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left")
      .filter(coalesce(col("n_recent"), lit(0L)) < maxRecent)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q7-shaped bilateral trade volume: revenue shipped between two
    * named nations, split by (supplier nation, customer nation, year).
    * The two `nation` lookups broadcast with their name filters applied
    * FIRST, so the nation predicates semi-reduce `supplier` and `customer`
    * to ~2/25ths before either touches a fact table — the big
    * lineitem⋈orders join then only carries qualifying rows. The
    * direction disjunction is a post-join filter over two broadcast-pruned
    * dimension columns, not a union of two plans. */
  def nationVolume(spark: SparkSession, sfDir: String,
                   nationA: String = "NATION_7",
                   nationB: String = "NATION_19",
                   from: String = "1996-01-01",
                   until: String = "1998-01-01"): DataFrame = {
    val n = Tables.nation(spark, sfDir)
      .filter(col("n_name").isin(nationA, nationB))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(n.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
      .join(broadcast(n.select(col("n_nationkey").as("n2_nationkey"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n2_nationkey"))
      .select("c_custkey", "cust_nation")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    li.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      // decimal accumulation: order-independent, so the 2dp rounding can't
      // straddle a float boundary under another partition order (same
      // rationale as returnedItems)
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")), 2).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8-shaped market share: of all region-destined revenue in a
    * part-type segment, the fraction supplied from one nation, per year.
    * The share is a conditional-sum ratio inside ONE aggregation — no
    * second pass over the joined data. Region+nation broadcast; the
    * part-type filter semi-reduces lineitem through the partkey join
    * before the orderkey shuffle. */
  def marketShare(spark: SparkSession, sfDir: String,
                  suppNation: String = "NATION_3",
                  region: String = "ASIA",
                  ptype: String = "ECONOMY",
                  from: String = "1996-01-01",
                  until: String = "1998-01-01"): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_type") === ptype).select("p_partkey")
    val r = Tables.region(spark, sfDir)
      .filter(col("r_name") === region).select("r_regionkey")
    val custNations = Tables.nation(spark, sfDir)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
      .join(broadcast(custNations),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val suppNations = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("sn_nationkey"),
        col("n_name").as("supp_nation"))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(suppNations),
        col("s_nationkey") === col("sn_nationkey"))
      .select("s_suppkey", "supp_nation")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(from) &&
        col("o_orderdate") < lit(until))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      // both sums accumulate in decimal (order-independent); the ratio is
      // then one double division of two exact values — deterministic across
      // partition orders and engines
      .agg(round(
        sum(when(col("supp_nation") === suppNation, vol).otherwise(lit(0.0))
            .cast("decimal(18,6)")).cast("double") /
          sum(vol.cast("decimal(18,6)")).cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q10-shaped returned-item report: customers ranked by revenue
    * lost to returns in a quarter, top k. The returnflag and date filters
    * push to the two fact scans; the aggregate groups on the customer key
    * plus functionally-dependent dim columns (free — same shuffle key
    * cardinality); TakeOrderedAndProject caps driver traffic at k rows. */
  def returnedItems(spark: SparkSession, sfDir: String,
                    from: String = "1996-01-01",
                    until: String = "1996-04-01",
                    k: Int = 20): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(from) &&
        col("o_orderdate") < lit(until))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    // Sum in DECIMAL: the per-row product is bit-identical everywhere, and
    // decimal addition is order-independent — so the 2-decimal rounding
    // cannot straddle a float boundary under a different partition order.
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** TPC-H Q15-shaped top supplier: per-supplier revenue over a quarter,
    * keeping the supplier(s) that hit the maximum. The per-supplier
    * aggregate is computed ONCE (supplier-cardinality output); the scalar
    * max over it is a one-row broadcast joined back as a filter — the
    * correlated-subquery phrasing would rescan lineitem per supplier.
    * Revenue is rounded BEFORE the max comparison so the equality is on
    * stable 2-decimal values, not raw float-sum bits. */
  def topSupplier(spark: SparkSession, sfDir: String,
                  from: String = "1996-01-01",
                  until: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from) &&
        col("l_shipdate") < lit(until))
      .groupBy(col("l_suppkey"))
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")), 2).cast("double").as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_name")
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q9-shaped product-type profit (adapted: the fixture has no
    * partsupp, so cost = p_retailprice·quantity instead of
    * ps_supplycost·quantity — same plan shape, one fewer table). Profit
    * per (supplier nation, order year) over parts whose name matches a
    * color word. The part filter semi-reduces lineitem through the
    * partkey join BEFORE the orderkey shuffle; nation broadcasts; profit
    * sums in decimal so rounding is order-stable. */
  def productProfit(spark: SparkSession, sfDir: String,
                    nameContains: String = "red"): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_name").contains(nameContains))
      .select("p_partkey", "p_retailprice")
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    val profit = (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * col("l_quantity")).cast("decimal(18,6)")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(profit), 2).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11-shaped important parts (adapted: no partsupp, so a part's
    * "stock value" = Σ extendedprice·quantity of its lineitems shipped by
    * one nation's suppliers). Keeps parts whose value exceeds `fraction`
    * of the nation's total — the total is a ONE-ROW aggregate broadcast
    * into the HAVING filter (scalar-subquery decorrelation), not a
    * correlated per-part rescan. Decimal sums make both the per-part
    * values and the threshold order-stable. */
  def importantParts(spark: SparkSession, sfDir: String,
                     nation: String = "NATION_3",
                     fraction: Double = 0.001): DataFrame = {
    val n = Tables.nation(spark, sfDir)
      .filter(col("n_name") === nation).select("n_nationkey")
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    // no hint on the supplier subset: it is catalog-scaling (1/25th of
    // suppliers), so AQE broadcasts while it fits and degrades to a
    // shuffle join at scale — only the FIXED nation dim is force-broadcast
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(s, col("l_suppkey") === col("s_suppkey"))
    val value = (col("l_extendedprice") * col("l_quantity"))
      .cast("decimal(18,6)")
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(value).as("value_dec"))
    val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_dec") > col("total_dec") * fraction)
      .select(col("l_partkey"),
        round(col("value_dec"), 2).cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q12-shaped late-shipment priority mix (adapted: no l_shipmode
    * column, so the grouping "mode" is the return class). For lineitems
    * that shipped more than `lateDays` after their order date inside a
    * window, count high- vs low-priority orders per class — the
    * conditional-sum pattern over a single fact⋈dim join, with the date
    * window pushed to the lineitem scan and the lateness residual riding
    * the orderkey join. */
  def latePriorityMix(spark: SparkSession, sfDir: String,
                      lateDays: Int = 30,
                      from: String = "1996-01-01",
                      until: String = "1997-01-01"): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from) &&
        col("l_shipdate") < lit(until))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy("l_returnflag")
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q2-shaped min-cost supplier (adapted: no partsupp, so a
    * supplier's cost for a part = its cheapest observed unit price
    * `l_extendedprice / l_quantity` across lineitems). For parts in a
    * size set, keep the supplier(s) achieving the per-part minimum.
    * The part filter semi-reduces lineitem BEFORE the (part,supplier)
    * aggregate; the per-part min is a second part-cardinality aggregate
    * joined back on exact double equality — safe because both sides are
    * the SAME per-row division, not a re-computed sum. */
  def minCostSupplier(spark: SparkSession, sfDir: String,
                      sizes: Seq[Int] = Seq(1, 5, 9)): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_size")
    val unit = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "p_brand", "p_size", "l_suppkey")
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val best = unit.groupBy(col("p_partkey").as("b_partkey"))
      .agg(min(col("unit_cost")).as("best_cost"))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_name",
      "s_nationkey")
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    unit.join(best, col("p_partkey") === col("b_partkey") &&
        col("unit_cost") === col("best_cost"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("s_name"), col("n_name"),
        round(col("unit_cost"), 6).as("unit_cost"))
      .orderBy("p_partkey", "s_name")
  }

  /** Market-basket co-purchase pairs: part pairs appearing in the same
    * order, counted across orders, top k. The pair universe is generated
    * LOCALLY per order from its (deduped, sorted) part set — order sizes
    * are bounded (~7 lineitems), so the local synthesis is O(|order|²)
    * with a small constant and the plan has ONE corpus-sized shuffle (the
    * per-order collect_set) regardless of catalog size. The self-join
    * formulation shuffles the order-part table twice more and explodes
    * with data volume. Same shape as q_source_overlap's pair synthesis. */
  /** Unordered co-purchase pair counts (the full pair table, no sort —
    * feed for top-k reporting AND graph construction).
    *
    * Memoized per (session, fixture dir) behind a localCheckpoint:
    * q_copurchase, q_assoc_rules, and q_pagerank all consume this same
    * 1.2M-pair aggregate, and without the memo each recomputed the full
    * basket pass (~3 scans and shuffles of lineitem per bench run). The
    * checkpoint materializes once; later callers read the cached blocks. */
  def coPurchaseCounts(spark: SparkSession, sfDir: String): DataFrame =
    graft.Shared(spark, s"coPurchase@$sfDir")(
      coPurchaseCountsUncached(spark, sfDir).localCheckpoint())

  /** Per-order sorted part sets — THE canonical basket frame. ONE corpus
    * shuffle (the groupBy + in-aggregate collect_set dedup) builds it;
    * every market-basket / CF / rules / eval consumer then derives
    * narrowly: the flat (order, part) pair view is an explode, the
    * basket pair synthesis reads the arrays directly, the order total is
    * a row count (keys are unique), and the LOO eval's held-out max is
    * `element_at(ps, -1)` of the sorted array. This replaced a
    * distinct-then-regroup factorization that shuffled the corpus pair
    * frame once extra on build plus once per set-shaped consumer.
    * Memoized per (session, fixture dir) behind a localCheckpoint, which
    * also preserves the hashpartitioning(l_orderkey) so order-keyed
    * consumers re-aggregate without an exchange. */
  def orderSets(spark: SparkSession, sfDir: String): DataFrame =
    graft.Shared(spark, s"orderSets@$sfDir")(
      // NO parallelism floor before the groupBy, same rationale as ever:
      // the keyed exchange is where parallelism starts, and the heavy
      // consumers (basket explode, CF scoring) run downstream of it
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .localCheckpoint())

  /** Deduped (l_orderkey, l_partkey) — the flat pair view of
    * [[orderSets]], derived narrowly (explode of deduped sorted sets ≡
    * the old scan-and-distinct, without its extra corpus shuffle). */
  def orderParts(spark: SparkSession, sfDir: String): DataFrame =
    orderSets(spark, sfDir)
      .select(col("l_orderkey"), explode(col("ps")).as("l_partkey"))

  /** Per-part basket frequency (catalog-sized) — the SAME numbers serve
    * as assoc-rules' antecedent/consequent counts and item-CF's cosine
    * normalizer, so the explode + aggregate pass over the basket view
    * runs once per (session, fixture) instead of once per consumer. */
  def partFreq(spark: SparkSession, sfDir: String): DataFrame =
    graft.Shared(spark, s"partFreq@$sfDir")(
      orderParts(spark, sfDir).groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_part"))
        .localCheckpoint())

  /** Deterministic negative sampling for implicit-feedback training (the
    * BPR / word2vec-style corruption step): for every customer with
    * purchase history, draw `probes` pseudo-random candidate parts from
    * the catalog id space — candidate_i = h60(cust ":" i) mod (maxKey+1),
    * the portable hash, so ANY engine regenerates the identical draws —
    * drop candidates the customer actually bought (the anti-join), dedup
    * repeated draws keeping the earliest probe, and keep the first `k`
    * surviving negatives in probe order.
    *
    * Scale shape: positives are ONE (cust, part) distinct shuffle (the
    * same pair relation CF consumes); the candidate side is a BOUNDED
    * |customers|×probes fanout generated by projection (no join against
    * the catalog — the id space is dense, so draws are arithmetic); the
    * anti-join co-locates on the (cust, part) keys; the keep-k window
    * compiles to WindowGroupLimit. Nothing quadratic anywhere: cost is
    * O(|pairs| + |customers|·probes) at any scale. Reference analog:
    * none (training-data extension); the positives relation is the same
    * customer×part purchase view the analytics queries join
    * (analytics.py:82-103 shape). */
  def negativeSamples(spark: SparkSession, sfDir: String,
                      k: Int = 3, probes: Int = 8): DataFrame = {
    import graft.ext.TextFns.portableH60
    // checkpointed: the anti-join probes it AND the candidate branch
    // derives its customer set from it — unmaterialized, the
    // orders⋈pairs distinct would execute twice
    val pos = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(orderParts(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()
      .pinned()
    val idSpace = broadcast(Tables.part(spark, sfDir)
      .agg((max(col("p_partkey")) + 1L).as("p_n")))
    val cands = pos.select(col("cust")).distinct()
      .crossJoin(idSpace)
      .select(col("cust"), explode(sequence(lit(0),
        lit(probes - 1))).as("probe"), col("p_n"))
      .select(col("cust"), col("probe"),
        pmod(portableH60(concat_ws(":", col("cust"), col("probe"))),
          col("p_n")).as("part"))
    val misses = cands.join(pos, Seq("cust", "part"), "left_anti")
      .groupBy(col("cust"), col("part"))
      .agg(min(col("probe")).as("probe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cust").orderBy(col("probe"), col("part"))
    misses.withColumn("neg_rank", row_number().over(w).cast("bigint"))
      .filter(col("neg_rank") <= k)
      .select(col("cust"), col("part"), col("neg_rank"))
      .orderBy("cust", "neg_rank")
  }

  private def coPurchaseCountsUncached(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    val sets = orderSets(spark, sfDir)
      .filter(size(col("ps")) > 1)
    sets.select(explode(flatten(transform(col("ps"),
        (x, i) => transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("part_a"), y.as("part_b")))))).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_orders"))
  }

  def coPurchasePairs(spark: SparkSession, sfDir: String,
                      k: Int = 20): DataFrame =
    coPurchaseCounts(spark, sfDir)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(k)

  /** Association rules from the co-purchase pairs: for A→B with support
    * ≥ `minSupport`, confidence = n(A,B)/n(A) and lift = confidence /
    * (n(B)/N). All inputs are exact integer counts, so the derived
    * ratios are bit-identical everywhere. The one-row total broadcasts;
    * the per-part counts are catalog-scaling so AQE sizes that join at
    * runtime. Only the basket pass touches the corpus. */
  def assocRules(spark: SparkSession, sfDir: String,
                 minSupport: Long = 2L, k: Int = 20): DataFrame = {
    val partN = partFreq(spark, sfDir)
    // orderSets keys are unique — the order total is a row count, no
    // distinct shuffle
    val totalN = orderSets(spark, sfDir)
      .agg(count(lit(1)).as("n_orders_total"))
    val pairs = coPurchaseCounts(spark, sfDir)
      .filter(col("n_orders") >= minSupport)
    val rules = pairs.select(col("part_a").as("antecedent"),
        col("part_b").as("consequent"), col("n_orders").as("support"))
      .union(pairs.select(col("part_b"), col("part_a"), col("n_orders")))
    // the per-part counts are catalog-scaling — no broadcast hint (AQE
    // decides by measured size); only the one-row total keeps the hint
    rules
      .join(partN.select(col("l_partkey").as("antecedent"),
        col("n_part").as("n_a")), Seq("antecedent"))
      .join(partN.select(col("l_partkey").as("consequent"),
        col("n_part").as("n_b")), Seq("consequent"))
      .crossJoin(broadcast(totalN))
      .select(col("antecedent"), col("consequent"), col("support"),
        round(col("support") / col("n_a"), 6).as("confidence"),
        round((col("support") / col("n_a")) /
          (col("n_b") / col("n_orders_total")), 6).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(k)
  }

  /** TPC-H Q21-shaped waiting-supplier count (adapted: the fixture has no
    * commit/receipt dates, so "kept the order waiting" = shipped the
    * STRICTLY LATEST lineitem of a finished multi-supplier order). The
    * EXISTS is a left-semi self-join on orderkey with a supplier
    * inequality; the NOT EXISTS a left-anti with a later-shipdate
    * residual. Both self-joins hash-partition lineitem on orderkey — ONE
    * shuffle key reused across both, no match duplication (semi/anti emit
    * each l1 row at most once). */
  def waitingSuppliers(spark: SparkSession, sfDir: String,
                       k: Int = 100): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_linenumber")
    val l1 = li.select(col("l_orderkey"), col("l_suppkey"),
      col("l_shipdate"), col("l_linenumber"))
    val l2 = li.select(col("l_orderkey").as("l2_orderkey"),
      col("l_suppkey").as("l2_suppkey"))
    val l3 = li.select(col("l_orderkey").as("l3_orderkey"),
      col("l_suppkey").as("l3_suppkey"), col("l_shipdate").as("l3_shipdate"))
    val fOrders = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_name")
    l1.join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .join(l2, col("l_orderkey") === col("l2_orderkey") &&
        col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
      .join(l3, col("l_orderkey") === col("l3_orderkey") &&
        col("l_suppkey") =!= col("l3_suppkey") &&
        col("l3_shipdate") > col("l_shipdate"), "left_anti")
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** Supplier revenue concentration per nation — the Herfindahl index
    * `HHI = Σᵢ (rᵢ/R)²` and its "equivalent competitor count" 1/HHI.
    * The procurement-risk question: one dominant supplier per nation,
    * or a healthy market?
    *
    * Numeric discipline: squaring the SHARES would sum order-sensitive
    * doubles — instead both Σrᵢ² and (Σrᵢ)² stay in exact DECIMAL
    * (supplier revenues are decimal sums; their squares widen but fit)
    * and the single division happens in doubles at the end, so the
    * result is partition-order-independent. Plan: one supplier-keyed
    * aggregate over lineitem, the fixed nation dim broadcast, then a
    * 25-row nation aggregate. */
  def supplierHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")).as("r"))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val per = rev.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r")).as("total"),
        sum(col("r") * col("r")).as("sum_sq"))
    val hhi = col("sum_sq").cast("double") /
      (col("total").cast("double") * col("total").cast("double"))
    per.select(col("n_name"), col("n_suppliers"),
        round(col("total"), 2).cast("double").as("total_revenue"),
        r6(hhi).as("hhi"),
        r6(lit(1.0) / hhi).as("equivalent_n"))
      .orderBy("n_name")
  }

  /** TPC-H Q20-shaped dominant-supplier screen, adapted to the fixture
    * schema: the fixtures carry no `partsupp`, so shipped quantity stands
    * in for `ps_availqty` — a supplier "dominates" a promo part when its
    * shipped quantity in the window exceeds half the part's total shipped
    * quantity across all suppliers (Q20's `ps_availqty > 0.5 · Σ qty`
    * correlated-threshold, same nested-aggregate → join → filter shape).
    *
    * Scale shape: the `p_type` filter semi-reduces lineitem through the
    * partkey join BEFORE any aggregation; the per-(part, supplier)
    * aggregate is map-side combined; the per-part total derives from that
    * pair aggregate — no second corpus scan — and joins back on partkey
    * (pair-aggregate cardinality, not fact cardinality). l_quantity is
    * integral-valued, so the double sums are exact and the `2·supp >
    * total` comparison cannot flip under another partition order. */
  def promoSuppliers(spark: SparkSession, sfDir: String,
                     ptype: String = "PROMO",
                     from: String = "1996-01-01",
                     until: String = "1997-01-01"): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_type") === ptype).select("p_partkey")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from) &&
        col("l_shipdate") < lit(until))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(p, col("l_partkey") === col("p_partkey"))
    val perPair = li.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("supp_qty"))
    val perPart = perPair.groupBy("l_partkey")
      .agg(sum(col("supp_qty")).as("part_qty"))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_name")
    perPair.join(perPart, Seq("l_partkey"))
      .filter(col("supp_qty") * 2 > col("part_qty"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("n_parts_dominated"),
        sum(col("supp_qty")).cast("bigint").as("dominated_qty"))
      .orderBy("s_name")
  }

  /** Cold-start audit: parts that never enter the support-floored
    * co-purchase graph — no recommender signal exists for them — broken
    * down by brand. One anti join of the catalog against the
    * node list (graph-cardinality, not fact-cardinality), then a
    * 25-row brand rollup with exact counts. */
  def coldStartParts(spark: SparkSession, sfDir: String,
                     minSupport: Long = 2L): DataFrame = {
    val pairs = coPurchaseCounts(spark, sfDir)
      .filter(col("n_orders") >= minSupport)
    val nodes = pairs.select(col("part_a").as("node"))
      .unionAll(pairs.select(col("part_b").as("node"))).distinct()
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
    val flagged = p.join(nodes, col("p_partkey") === col("node"),
        "left_anti")
      .groupBy("p_brand").agg(count(lit(1)).as("n_cold"))
    val sizes = p.groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
    sizes.join(flagged, Seq("p_brand"), "left")
      .select(col("p_brand"), col("n_parts"),
        coalesce(col("n_cold"), lit(0L)).as("n_cold"),
        r6(coalesce(col("n_cold"), lit(0L)).cast("double") /
          col("n_parts").cast("double")).as("pct_cold"))
      .orderBy("p_brand")
  }

  /** Referential-integrity audit across the whole star: for every
    * child→parent foreign key, the distinct child keys with no parent
    * row — the first thing a warehouse load gate checks and the
    * complement of `q_data_contract`'s single-table rules. A healthy
    * fixture reports zero orphans on every edge; the REPORT (not the
    * zero) is the product.
    *
    * Scale shape: each relationship is `distinct(child key) ⟕̸ parent
    * key` — the anti join probes parent-key cardinality, never fact
    * rows, and the six audits are independent one-row aggregates
    * unioned at the end (each parallelizes internally; nothing is
    * sequenced through the driver). */
  def refIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame = {
      val ckeys = child.select(col(ck).as("k"))
        .filter(col("k").isNotNull).distinct()
      val orphans = ckeys.join(parent.select(col(pk).as("p")),
        col("k") === col("p"), "left_anti")
      ckeys.agg(count(lit(1)).as("n_child_keys"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphan_keys")))
        .select(lit(rel).as("relationship"), col("n_child_keys"),
          col("n_orphan_keys"),
          r6(col("n_orphan_keys").cast("double") /
            col("n_child_keys").cast("double")).as("pct_orphans"))
    }
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    audit("customer->nation", c, "c_nationkey", n, "n_nationkey")
      .unionAll(audit("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
      .unionAll(audit("lineitem->part", li, "l_partkey", p, "p_partkey"))
      .unionAll(audit("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"))
      .unionAll(audit("orders->customer", o, "o_custkey", c, "c_custkey"))
      .unionAll(audit("supplier->nation", s, "s_nationkey", n, "n_nationkey"))
      .orderBy("relationship")
  }

  /** ABC (Pareto) classification of the part catalog by revenue — the
    * inventory-management classic: class A parts cover the first 80% of
    * revenue, B the next 15%, C the tail; reported as the 3-row class
    * summary. The fact table aggregates ONCE to per-part revenue (the
    * only corpus shuffle); the cumulative window then runs over the
    * CATALOG-cardinality frame (dimension-bounded, the documented
    * global-window class). Class boundaries compare EXACT DECIMALS via
    * cross-multiplication (5·cum ≤ 4·total ⟺ share ≤ 0.8), so no
    * engine's division rounding can flip a part across a class edge. */
  def abcClassification(lineitem: DataFrame): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    perPartAbc(lineitem).groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).as("cls_rev"), max(col("total")).as("total"))
      .select(col("cls"), col("n_parts"),
        round(col("cls_rev"), 2).cast("double").as("revenue"),
        r6(d(col("cls_rev")) / d(col("total"))).as("revenue_share"))
      .orderBy("cls")
  }

  /** Per-part (revenue, total, ABC class) — the shared core of
    * [[abcClassification]] and [[abcXyz]]. Materialized: the total
    * scalar and the cumulative pass share the fact aggregate. */
  private def perPartAbc(lineitem: DataFrame): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,12)")).as("rev"))
      .pinned()
    // the cumulative-revenue walk is a distributed two-pass prefix sum
    // (GlobalRank.withPrefixSum) — the part catalog scales with the
    // corpus in TPC-H, so a single-partition window here would be a
    // 100 TB bottleneck (decimal addition is exact, so the two-pass
    // regrouping is bit-identical to the sequential window sum); the
    // grand total rides the offsets frame instead of paying a separate
    // whole-frame aggregate + scalar cross join
    graft.operators.GlobalRank.withPrefixSum(perPart,
      Seq(col("rev").desc, col("l_partkey")), col("rev"), "cum",
      outTotal = "total")
      .withColumn("cls",
        when(col("cum") * 5 <= col("total") * 4, "A")
          .when(col("cum") * 20 <= col("total") * 19, "B")
          .otherwise("C"))
  }

  /** Fulfillment-lag distribution per order priority: days from order
    * date to FIRST shipment, summarized as mean / exact p50 / exact p95
    * per priority — the ops-SLA read on whether priority classes
    * actually ship faster. One fact aggregate to per-order first-ship
    * (min l_shipdate — map-side combining), a key join to orders, then
    * a priority-bounded aggregate; lags are small integers so the exact
    * percentiles aggregate over a day census per group, not a sort. */
  def fulfillmentLag(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val firstShip = lineitem
      .groupBy(col("l_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("first_ship"))
    val lags = firstShip
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("first_ship"), to_date(col("o_orderdate")))
          .cast("long").as("lag_days"))
    lags.groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("lag_days")).as("s"),
        expr("percentile(lag_days, 0.5)").as("p50_raw"),
        expr("percentile(lag_days, 0.95)").as("p95_raw"))
      .select(col("priority"), col("n_orders"),
        r6(col("s").cast("double") / col("n_orders").cast("double"))
          .as("mean_days"),
        r6(col("p50_raw")).as("p50_days"),
        r6(col("p95_raw")).as("p95_days"))
      .orderBy("priority")
  }

  /** ABC-XYZ inventory matrix: the [[abcClassification]] revenue classes
    * crossed with demand-VARIABILITY classes — X/Y/Z by the coefficient
    * of variation of WEEKLY quantity, with absent weeks counted as zero
    * demand in closed form (fixed week count W ⇒ μ = Σq/W and
    * Var = Σq²/W − μ² need only the observed weeks' sums — no calendar
    * fan-out). The nine cells are what a supply planner reads: AX =
    * high-value stable (automate), CZ = low-value erratic (kill).
    * CV thresholds apply to the r6-ROUNDED value so an engine's last
    * ulp cannot flip a class. One fact pass to (part × week), one to
    * per-part sums, then catalog-frame arithmetic. */
  /** Newsvendor stocking policy per part (the critical-fractile result:
    * stock the cu/(cu+co) demand quantile) over the weekly demand
    * distribution INCLUDING the zero-demand weeks a naive census of
    * observed rows silently drops — for intermittent demand the zeros
    * dominate the quantile, which is exactly why [[abcXyz]]'s Z-class
    * parts need this and not a mean-based rule. Critical ratio fixed at
    * 4/5 and the target rank computed in INTEGER arithmetic
    * (⌈4W/5⌉ = ⌊(4W+4)/5⌋ — a double 0.8·W rounds the wrong way at
    * W = 85), so both engines select the same order statistic. Reported
    * per part: weeks, active weeks, mean weekly demand, the stocking
    * quantity q*, and the implied safety stock q* − mean; top-`k` parts
    * by total demand.
    *
    * Scale shape: the [[abcXyz]] weekly fan-out (one fact join, one
    * (part, week) aggregate), then a PART-partitioned rank window (never
    * global) and a part-keyed join of the two part-sized frames. */
  def newsvendor(lineitem: DataFrame, orders: DataFrame,
                 k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), col("l_quantity"),
        to_date(col("o_orderdate")).as("d"))
    val span = orders.agg(min(to_date(col("o_orderdate"))).as("d0"),
      (floor(datediff(max(to_date(col("o_orderdate"))),
        min(to_date(col("o_orderdate")))) / 7) + 1)
        .cast("bigint").as("n_weeks"))
    def dec(c: Column) = c.cast("decimal(28,12)")
    // ONE explicit part-key exchange serves the whole tail (the croston
    // discipline): hashpartitioning(l_partkey) satisfies the (part, week)
    // grouping, the per-part stats aggregate, the rank window AND both
    // sides of the picks join — none of them re-exchange. Decimal sums
    // are order-free, so the regrouping changes no value.
    val weekly = rows.crossJoin(broadcast(span))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"),
        floor(datediff(col("d"), col("d0")) / 7).as("wk"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("q"),
        max(col("n_weeks")).as("n_weeks"))
      .pinned() // the stats pass and the rank window share it
    def d(c: Column) = c.cast("double")
    val stats = weekly.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_active"),
        sum(dec(col("q"))).cast("double").as("sq"),
        max(col("n_weeks")).as("w"))
    // target rank ⌈4W/5⌉ in integer arithmetic; ranks below the zero
    // mass pick q* = 0 without touching the observed rows
    val target = floor((lit(4L) * col("w") + lit(4L)) / lit(5L))
      .cast("bigint")
    val wRank = Window.partitionBy("l_partkey")
      .orderBy(col("q"), col("wk"))
    val picks = weekly
      .withColumn("rn", row_number().over(wRank).cast("bigint"))
      .select(col("l_partkey").as("pk"), col("rn"), col("q"))
    stats
      .withColumn("rank_target", target)
      .withColumn("n_zero", col("w") - col("n_active"))
      .join(picks,
        col("l_partkey") === col("pk") &&
          col("rn") === col("rank_target") - col("n_zero"), "left")
      .select(col("l_partkey"), col("w").as("n_weeks"),
        col("n_active").as("n_active_weeks"),
        r6(col("sq") / d(col("w"))).as("mean_weekly"),
        when(col("rank_target") <= col("n_zero"), lit(0.0))
          .otherwise(coalesce(col("q"), lit(0.0))).as("q_star"),
        r6(when(col("rank_target") <= col("n_zero"), lit(0.0))
          .otherwise(coalesce(col("q"), lit(0.0))) -
          col("sq") / d(col("w"))).as("safety_stock"))
      .orderBy(col("mean_weekly").desc, col("l_partkey"))
      .limit(k)
  }

  def abcXyz(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    // ONE fact pass carries both measures: weekly quantity (the XYZ cv
    // input) and revenue (the ABC census input) fold from the same
    // lineitem ⋈ orders frame — previously the ABC side re-scanned and
    // re-aggregated lineitem separately and joined back on part, i.e.
    // one extra corpus scan, aggregate, and join per run. Revenue
    // regroups through the weekly level in DECIMAL (exact at any
    // grouping), so per-part totals are bit-equal to the direct
    // per-row sum (the inner join keeps every lineitem row — the
    // fixtures' referential integrity is oracle-checked by
    // q_ref_integrity, and the DuckDB oracle for THIS query folds the
    // same joined frame).
    val rows = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,12)").as("rv"),
        to_date(col("o_orderdate")).as("d"))
    // the week grid comes from the ORDER calendar — a narrow dim scan,
    // not a second pass over the fact join
    val span = orders.agg(min(to_date(col("o_orderdate"))).as("d0"),
      (floor(datediff(max(to_date(col("o_orderdate"))),
        min(to_date(col("o_orderdate")))) / 7) + 1)
        .cast("double").as("n_weeks"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,12)")
    val weekly = rows.crossJoin(broadcast(span))
      .groupBy(col("l_partkey"),
        floor(datediff(col("d"), col("d0")) / 7).as("wk"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("q"),
        sum(col("rv")).as("rv"),
        max(col("n_weeks")).as("n_weeks"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val perPart = weekly.groupBy(col("l_partkey"))
      .agg(sum(dec(col("q"))).cast("double").as("sq"),
        sum(dec(col("q") * col("q"))).cast("double").as("sqq"),
        sum(col("rv")).cast("decimal(38,12)").as("rev"),
        max(col("n_weeks")).as("w"))
      .select(col("l_partkey"), col("rev"),
        r6(when(col("sq") > 0.0,
          sqrt(greatest(col("sqq") / col("w") -
            (col("sq") / col("w")) * (col("sq") / col("w")), lit(0.0))) /
            (col("sq") / col("w"))).otherwise(lit(0.0))).as("cv"))
      .withColumn("cls_xyz",
        when(col("cv") <= 0.5, "X").when(col("cv") <= 1.0, "Y")
          .otherwise("Z"))
      .pinned() // the rank pass reads it once-materialized
    // the ABC grand total rides the prefix-sum offsets frame (decimal
    // addition is exact, so the regrouped total is bit-equal) — this
    // deletes the separate whole-frame aggregate and its
    // BroadcastNestedLoopJoin scalar attach (the r13 after-plan's one
    // suspicious node)
    val classified = graft.operators.GlobalRank.withPrefixSum(perPart,
      Seq(col("rev").desc, col("l_partkey")), col("rev"), "cum",
      outTotal = "total")
      .withColumn("cls",
        when(col("cum") * 5 <= col("total") * 4, "A")
          .when(col("cum") * 20 <= col("total") * 19, "B")
          .otherwise("C"))
    classified
      .groupBy(col("cls").as("cls_abc"), col("cls_xyz"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("cls_rev"),
        max(col("total")).as("total"))
      .select(col("cls_abc"), col("cls_xyz"), col("n_parts"),
        round(col("cls_rev"), 2).cast("double").as("revenue"),
        r6(d(col("cls_rev")) / d(col("total"))).as("revenue_share"))
      .orderBy("cls_abc", "cls_xyz")
  }

  /** Price–volume revenue bridge between the two calendar halves of the
    * order window — the FP&A waterfall that answers "did revenue move
    * because of price, volume, or assortment?" with the symmetric
    * (Bennet) decomposition, which is EXACT: for parts present in both
    * halves, r₂−r₁ = Δp·q̄ + Δq·p̄ identically, so price + volume + new
    * + lost reconcile to the total delta with zero residual. One fact
    * aggregate to (part × half), then part-cardinality arithmetic;
    * every sum is DECIMAL. */
  def revenueBridge(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val per = partHalves(lineitem, orders)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val both = col("q1") > 0 && col("q2") > 0
    // q/r are micro-units: the unit-price ratio is scale-free, the
    // basket/volume factors divide by 1e6 back to real units
    val p1 = d(col("r1")) / d(col("q1"))
    val p2 = d(col("r2")) / d(col("q2"))
    val qbar = (d(col("q1")) + d(col("q2"))) / lit(2000000.0)
    val pbar = (p1 + p2) / lit(2.0)
    val m = per.agg(
      (sum(col("r1")).cast("double") / lit(1000000.0)).as("total_h1"),
      (sum(col("r2")).cast("double") / lit(1000000.0)).as("total_h2"),
      sum(when(both, ((p2 - p1) * qbar).cast("decimal(28,12)"))
        .otherwise(lit(0))).cast("double").as("price_effect"),
      sum(when(both, ((d(col("q2")) - d(col("q1"))) / lit(1000000.0)
        * pbar).cast("decimal(28,12)")).otherwise(lit(0))).cast("double")
        .as("volume_effect"),
      (sum(when(col("q1") === 0, col("r2")).otherwise(lit(0L)))
        .cast("double") / lit(1000000.0)).as("new_parts_effect"),
      (sum(when(col("q2") === 0, -col("r1")).otherwise(lit(0L)))
        .cast("double") / lit(1000000.0)).as("lost_parts_effect"))
    m.select(r6(col("total_h1")).as("total_h1"),
      r6(col("total_h2")).as("total_h2"),
      r6(col("total_h2") - col("total_h1")).as("delta"),
      r6(col("price_effect")).as("price_effect"),
      r6(col("volume_effect")).as("volume_effect"),
      r6(col("new_parts_effect")).as("new_parts_effect"),
      r6(col("lost_parts_effect")).as("lost_parts_effect"))
  }

  /** Per-part (q, revenue) sums for the two calendar halves in EXACT
    * integer MICRO-units — shared by [[revenueBridge]], [[priceIndex]]
    * and [[topkDrift]]. Per-row values quantize as floor(x·10⁶ + 0.5)
    * BIGINT before summation: the previous double→DECIMAL per-row casts
    * round differently across engines (Spark renders the shortest
    * decimal string, DuckDB scales the binary value), and the zipf skew
    * campaign showed one hot part accumulating that divergence past the
    * r6 output rounding in the bridge's cancellation-sensitive p₂−p₁
    * term. floor of an IEEE-identical double is bit-identical in both
    * engines, integer sums are exact (≤ ~10¹⁷ at sf100), and
    * unit-price ratios r/q are unit-free (micros cancel); consumers
    * divide by 10⁶ once where real units surface. */
  private def partHalves(lineitem: DataFrame,
                         orders: DataFrame): DataFrame = {
    val rows = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(to_date(col("o_orderdate")).as("d"), col("l_partkey"),
        col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
    val cut = rows.agg(date_add(min(col("d")),
      (datediff(max(col("d")), min(col("d"))) / 2).cast("int")).as("cut"))
    def mic(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000.0) + lit(0.5)).cast("bigint")
    rows.crossJoin(broadcast(cut))
      .withColumn("h1", col("d") <= col("cut"))
      .groupBy(col("l_partkey"))
      .agg(sum(when(col("h1"), mic(col("l_quantity"))).otherwise(lit(0L)))
        .as("q1"),
        sum(when(!col("h1"), mic(col("l_quantity"))).otherwise(lit(0L)))
          .as("q2"),
        sum(when(col("h1"), mic(col("rev"))).otherwise(lit(0L))).as("r1"),
        sum(when(!col("h1"), mic(col("rev"))).otherwise(lit(0L)))
          .as("r2"))
  }

  /** Laspeyres / Paasche / Fisher price indices between the two calendar
    * halves — the econometric companion to [[revenueBridge]]: how much
    * of the price movement is real once the basket is held fixed
    * (Laspeyres fixes the OLD basket, Paasche the NEW, Fisher is their
    * geometric mean — the "ideal" index). Unit prices are rᵢ/qᵢ per
    * part-half; only parts traded in BOTH halves enter (the standard
    * matched-model scope, reported alongside). Numerators/denominators
    * are DECIMAL sums of per-part double terms; indices are three final
    * divisions. */
  def priceIndex(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val per = partHalves(lineitem, orders)
      .filter(col("q1") > 0 && col("q2") > 0)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,12)")
    // micro-unit inputs: prices are scale-free ratios, the basket
    // quantities divide by 1e6 back to real units
    val p1 = d(col("r1")) / d(col("q1"))
    val p2 = d(col("r2")) / d(col("q2"))
    def units(c: org.apache.spark.sql.Column) = d(c) / lit(1000000.0)
    val m = per.agg(count(lit(1)).as("n_common_parts"),
      sum(dec(p2 * units(col("q1")))).cast("double").as("p2q1"),
      sum(dec(p1 * units(col("q1")))).cast("double").as("p1q1"),
      sum(dec(p2 * units(col("q2")))).cast("double").as("p2q2"),
      sum(dec(p1 * units(col("q2")))).cast("double").as("p1q2"))
    val lasp = col("p2q1") / col("p1q1")
    val paas = col("p2q2") / col("p1q2")
    m.select(col("n_common_parts"), r6(lasp).as("laspeyres"),
      r6(paas).as("paasche"), r6(sqrt(lasp * paas)).as("fisher"))
  }

  /** Croston's method for intermittent demand — the forecasting model
    * the [[abcXyz]] Z class actually needs (EWMA of a mostly-zero weekly
    * series just decays to noise; Croston smooths demand SIZES and
    * inter-demand INTERVALS separately and forecasts their ratio). The
    * sequential EWMA recursions unroll in CLOSED FORM as weighted sums
    * over each part's nonzero-demand weeks — weight (1−α)^(m−i), the
    * first observation carrying the remaining mass — so the whole model
    * fits in one part-partitioned window pass plus one aggregate; no
    * iteration, no state. Reported for the `limit` highest-demand
    * qualifying parts (≥ 3 nonzero weeks). */
  def crostonForecast(lineitem: DataFrame, orders: DataFrame,
                      alpha: Double = 0.3, limit: Int = 20): DataFrame = {
    val rows = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), col("l_quantity"),
        to_date(col("o_orderdate")).as("d"))
    // week zero anchors on the ORDER calendar (narrow dim scan), not a
    // second pass over the fact join
    val d0 = orders.agg(min(to_date(col("o_orderdate"))).as("d0"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,12)")
    val weekly = rows.crossJoin(broadcast(d0))
      .groupBy(col("l_partkey"),
        floor(datediff(col("d"), col("d0")) / 7).cast("long").as("wk"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("z"))
      .filter(col("z") > 0.0)
    // m and total_z ride the SAME (partkey-keyed) window exchange that
    // already computes the row index and lag — the previous separate
    // per-part aggregate + join back re-shuffled the weekly frame twice
    // for numbers the window pass has in hand. The z- and gap-EWMAs then
    // fold in ONE per-part aggregate: the gap addends are null exactly
    // on the i=1 row the old gaps-branch filter dropped (lag(wk) over
    // the first row), so sum() skips them identically; (m−1)−(i−1) and
    // m−i are the same exact small-integer doubles. Every addend is
    // bit-equal to the two-branch form, so the fold is too.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_partkey")).orderBy(col("wk"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_partkey"))
    val idx = weekly
      .withColumn("i", row_number().over(w).cast("double"))
      .withColumn("g",
        (col("wk") - lag(col("wk"), 1).over(w)).cast("double"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("total_z", sum(dec(col("z"))).over(wAll).cast("double"))
      .filter(col("m") >= 3)
    val oneMinus = lit(1.0 - alpha)
    // weight for the i-th of m observations: α(1−α)^(m−i), with the
    // FIRST observation carrying the full remaining mass (1−α)^(m−1)
    def ewma(v: org.apache.spark.sql.Column, first: org.apache.spark.sql.Column,
             mCol: org.apache.spark.sql.Column,
             iCol: org.apache.spark.sql.Column) =
      sum(dec(v * when(first, pow(oneMinus, mCol - iCol))
        .otherwise(lit(alpha) * pow(oneMinus, mCol - iCol))))
        .cast("double")
    idx
      .groupBy(col("l_partkey"), col("m"), col("total_z"))
      .agg(ewma(col("z"), col("i") === 1.0, col("m").cast("double"),
          col("i")).as("z_hat"),
        ewma(col("g"), col("i") - 1.0 === 1.0,
          (col("m") - 1).cast("double"), col("i") - 1.0).as("g_hat"))
      .orderBy(col("total_z").desc, col("l_partkey"))
      .limit(limit)
      .select(col("l_partkey"), col("m").as("n_periods"),
        r6(col("z_hat")).as("z_hat"), r6(col("g_hat")).as("g_hat"),
        r6(col("z_hat") / col("g_hat")).as("demand_rate"))
  }

  /** Top-k leaderboard drift between the calendar halves — the
    * monitoring scalar for "did what sells change": Jaccard overlap of
    * the two top-`k` revenue leaderboards, the mean absolute rank shift
    * over their intersection, and both #1 parts. Rides the same
    * [[partHalves]] frame as the bridge/indices; ranking is row_number
    * over the catalog-cardinality frame (the documented catalog-window
    * class) with (revenue DESC, part) tiebreaks so both engines cut
    * identical leaderboards. */
  def topkDrift(lineitem: DataFrame, orders: DataFrame,
                k: Int = 20): DataFrame = {
    val per = partHalves(lineitem, orders).pinned()
    def top(rc: String) = per
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col(rc).desc, col("l_partkey"))))
      .filter(col("rnk") <= k)
      .select(col("l_partkey"), col("rnk"))
    val a = top("r1").select(col("l_partkey"), col("rnk").as("rank1"))
    val b = top("r2").select(col("l_partkey"), col("rnk").as("rank2"))
    val inter = a.join(b, Seq("l_partkey"))
      .agg(count(lit(1)).as("n_common"),
        sum(abs(col("rank1") - col("rank2"))).as("shift_sum"))
    val top1a = a.filter(col("rank1") === 1)
      .select(col("l_partkey").as("top1_h1"))
    val top1b = b.filter(col("rank2") === 1)
      .select(col("l_partkey").as("top1_h2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    inter.crossJoin(broadcast(top1a)).crossJoin(broadcast(top1b))
      .select(lit(k.toLong).as("k"), col("n_common"),
        r6(d(col("n_common")) /
          (lit(2.0 * k) - d(col("n_common")))).as("jaccard"),
        r6(when(col("n_common") > 0L,
          d(col("shift_sum")) / d(col("n_common"))).otherwise(lit(0.0)))
          .as("mean_rank_shift"),
        col("top1_h1"), col("top1_h2"))
  }

  /** Per-brand discount elasticity of quantity — grouped OLS from five
    * per-group sums (the distributed regression shape: NO per-group
    * iteration, just one aggregate; [[graft.analytics.StatsAnalytics]]'s
    * corpus-level linreg generalized to a keyed frame). Slope is the
    * change in line-item quantity per unit of discount within the
    * brand — the merchandising read on whether discounts move volume.
    * Product sums go DECIMAL; the final slope/intercept are single
    * double divisions per brand. */
  def discountElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rows = lineitem.select(col("l_partkey"), col("l_discount").as("x"),
        col("l_quantity").as("y"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,12)")
    val m = rows.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
        sum(dec(col("y"))).as("sy"), sum(dec(col("x") * col("x")))
          .as("sxx"),
        sum(dec(col("x") * col("y"))).as("sxy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val n = d(col("n"))
    val slope = (n * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
      (n * d(col("sxx")) - d(col("sx")) * d(col("sx")))
    m.select(col("p_brand"), col("n"),
      r6(slope).as("slope"),
      r6((d(col("sy")) - slope * d(col("sx"))) / n).as("intercept"))
      .orderBy("p_brand")
  }

  /** Price/volume/mix variance decomposition by market segment between
    * the two halves of the order calendar — the FP&A companion to
    * [[revenueBridge]] (which splits ΔR into price/volume/new/lost per
    * ENTITY; this splits it into price/volume/MIX per SEGMENT, where
    * "mix" is the share-shift term a plain two-factor bridge silently
    * folds into volume): with g = Q₂ᵗᵒᵗ/Q₁ᵗᵒᵗ,
    *   volume = q₁(g−1)·p̄₁,  mix = (q₂ − q₁g)·p̄₁,
    *   price = (p̄₂ − p̄₁)·q₂,
    * and the three reconcile to r₂ − r₁ algebraically. One fact pass
    * builds the (segment × period) cells via conditional aggregation;
    * the one-row totals broadcast back; every derived number is a
    * scalar projection over DECIMAL-folded sums. */
  def mixVariance(orders: DataFrame, customer: DataFrame,
                  splitDate: String = "1998-01-01"): DataFrame = {
    val units = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        (col("o_orderdate") < lit(splitDate)).as("p1"),
        col("o_totalprice"))
    val cells = units.groupBy("segment").agg(
      sum(when(col("p1"), 1L).otherwise(0L)).as("q1"),
      round(sum(when(col("p1"), col("o_totalprice")).otherwise(lit(0.0))
        .cast("decimal(28,6)")), 2).cast("double").as("r1"),
      sum(when(!col("p1"), 1L).otherwise(0L)).as("q2"),
      round(sum(when(!col("p1"), col("o_totalprice")).otherwise(lit(0.0))
        .cast("decimal(28,6)")), 2).cast("double").as("r2"))
    val tot = cells.agg(sum(col("q1")).as("qt1"), sum(col("q2")).as("qt2"))
    def d(c: Column) = c.cast("double")
    val g = d(col("qt2")) / d(col("qt1"))
    val pbar1 = col("r1") / d(col("q1"))
    val pbar2 = col("r2") / d(col("q2"))
    cells.crossJoin(broadcast(tot))
      .filter(col("q1") > 0 && col("q2") > 0)
      .select(col("segment"), col("q1"), col("q2"), col("r1"), col("r2"),
        r6((pbar2 - pbar1) * d(col("q2"))).as("price_effect"),
        r6(d(col("q1")) * (g - lit(1.0)) * pbar1).as("volume_effect"),
        r6((d(col("q2")) - d(col("q1")) * g) * pbar1).as("mix_effect"),
        round(col("r2") - col("r1"), 2).as("delta"))
      .orderBy("segment")
  }
}
