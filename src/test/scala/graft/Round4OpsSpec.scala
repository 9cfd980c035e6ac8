package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.analytics.{EventAnalytics, StatsAnalytics}
import graft.ext.TextAnalysis
import graft.operators.BloomPrefilter
import graft.streaming.EventStream

/** Round-4 coverage: Bloom-prefiltered semi join, calendar-gap detection,
  * distribution analytics (histogram / anomalies / winsorize / A/B lift),
  * two-level HLL merge, corpus unigram scoring, chunk boilerplate, and
  * watermark-bounded streaming key dedup. */
class Round4OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bloom semi join: identical to exact semi join, probe prefilter is selective") {
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    val build = ev
      .filter(col("event_type") === "purchase" && col("value") > 200)
      .select(col("user_id").as("k")).distinct()
    val viaBloom = BloomPrefilter.semiJoin(ev, build, "user_id", "k", 1000L)
      .select("event_id").as[Long].collect().sorted.toSeq
    val exact = ev.join(build, col("user_id") === col("k"), "left_semi")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(viaBloom == exact)
    // The prefilter alone keeps every true match (no false negatives) and,
    // with a selective build side, strictly fewer rows than the raw probe.
    val bloom = BloomPrefilter.buildBloom(build, "k", 1000L)
    val kept = ev
      .filter(BloomPrefilter.mightContain(spark, col("user_id"), bloom))
      .count()
    assert(kept >= exact.length)
    assert(kept < ev.count(), s"prefilter kept all $kept probe rows")
  }

  test("dateGaps: span invariant holds; crafted gap is located") {
    val gaps = EventAnalytics.dateGaps(Tables.events(spark, sf))
    val bad = gaps
      .filter(col("active_days") + col("missing_days") =!= col("span_days"))
    assert(bad.isEmpty)
    // user 7 active on Jan 1 and Jan 3 only → exactly Jan 2 missing
    val crafted = Seq(
      (7L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (7L, java.sql.Timestamp.valueOf("2024-01-03 09:00:00")),
      (8L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
      .toDF("user_id", "ts")
    val out = EventAnalytics.dateGaps(crafted).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("missing_days"), r.getAs[String]("first_missing")))
      .toMap
    assert(out(7L) == ((1L, "2024-01-02")))
    assert(out(8L) == ((0L, null)))
  }

  test("histogram: bucket counts partition the table, bounds consistent") {
    val orders = Tables.orders(spark, sf)
    val h = StatsAnalytics.histogram(orders, "o_totalprice", 25000.0)
    val rows = h.collect()
    assert(rows.map(_.getAs[Long]("n")).sum == orders.count())
    rows.foreach { r =>
      assert(r.getAs[Double]("lo") >= r.getAs[Double]("bucket_lo"))
      assert(r.getAs[Double]("hi") < r.getAs[Double]("bucket_lo") + 25000.0)
    }
  }

  test("anomalies: crafted outlier flagged, all flags beyond threshold") {
    val crafted = (Seq.fill(20)(10.0) :+ 100.0).zipWithIndex
      .map { case (v, i) => (i.toLong, "x", v) }
      .toDF("event_id", "event_type", "value")
    val out = StatsAnalytics.anomalies(crafted, nSigma = 2.5).collect()
    assert(out.length == 1 && out.head.getAs[Long]("event_id") == 20L)
    val fx = StatsAnalytics.anomalies(Tables.events(spark, sf))
    assert(fx.filter(abs(col("z")) <= 2.5).isEmpty)
  }

  test("winsorize: clipped sum moves toward the band, counts consistent") {
    val w = StatsAnalytics.winsorize(Tables.events(spark, sf)).collect()
    w.foreach { r =>
      assert(r.getAs[Long]("n_clipped") <= r.getAs[Long]("n"))
      if (r.getAs[Long]("n_clipped") == 0)
        assert(r.getAs[Double]("raw_sum") == r.getAs[Double]("winsorized_sum"))
    }
    assert(w.exists(_.getAs[Long]("n_clipped") > 0)) // fixture has tails
  }

  test("hll merge: union estimate within the 5% bound it claims") {
    val r = EventAnalytics.hllMergeDau(Tables.events(spark, sf)).head()
    assert(r.getAs[Boolean]("merged_within_5pct"))
    assert(r.getAs[Long]("exact_total") > 0)
  }

  test("ab lift: variants partition the user base, stats well-formed") {
    val ev = Tables.events(spark, sf)
    val r = StatsAnalytics.abLift(ev).head()
    val users = ev.filter(col("user_id").isNotNull)
      .select("user_id").distinct().count()
    assert(r.getAs[Long]("users_a") + r.getAs[Long]("users_b") == users)
    val (ra, rb) = (r.getAs[Double]("rate_a"), r.getAs[Double]("rate_b"))
    assert(ra >= 0.0 && ra <= 1.0 && rb >= 0.0 && rb <= 1.0)
    assert(!r.getAs[Double]("z_stat").isNaN)
  }

  test("unigram logprob: probabilities below zero, bounded by vocab floor") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.unigramLogprob(docs)
    val nTok = out.agg(sum("n_tokens")).head.getLong(0)
    assert(out.filter(col("avg_logprob") >= 0.0).isEmpty)
    // the rarest possible token has probability 1/total → floor for the avg
    val floor = math.log(1.0 / nTok) - 1e-6
    assert(out.filter(col("avg_logprob") < floor).isEmpty)
  }

  test("chunk boilerplate: duplicate docs fully shared, disjoint doc clean") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg hh"),
      (3L, "zz yy xx ww vv uu tt ss"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkBoilerplate(docs, chunkTokens = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("boilerplate_frac")).toMap
    assert(out(1L) == 1.0 && out(2L) == 1.0 && out(3L) == 0.0)
  }

  test("token_chunks native expression matches the HOF composition") {
    graft.plans.TextSketches.register(spark)
    val toks = graft.ext.TextFns.tokens(col("text"))
    val nChunks = ceil(size(toks) / lit(4.0)).cast("int")
    val hof = transform(
      sequence(lit(0), greatest(nChunks - 1, lit(0))),
      i => concat_ws(" ", slice(toks, i * 4 + 1, lit(4))))
    val diff = Tables.documents(spark, sf)
      .select(graft.plans.TextSketches.token_chunks(toks, 4).as("a"),
        hof.as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(diff == 0)
  }

  test("stream key dedup collapses same-minute duplicates, keeps key set") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Int) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(
      (1L, at(5), "view"), (1L, at(20), "view"),  // same minute → 1 row
      (1L, at(70), "view"),                        // next minute
      (2L, at(6), "click"))
    val out = EventStream.runAvailableNow(
      EventStream.streamKeyDedup(
        mem.toDF().toDF("user_id", "ts", "event_type")), "append")
      .select("user_id", "event_type", "minute")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(out == Seq(
      (1L, "view", "2024-01-01 00:00"),
      (1L, "view", "2024-01-01 00:01"),
      (2L, "click", "2024-01-01 00:00")))
  }

  test("forward fill: nulls inherit the latest prior non-null per user") {
    def at(sec: Int) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    val crafted = Seq(
      (1L, 1L, at(0), Option.empty[Double]),
      (1L, 2L, at(1), Some(5.0)),
      (1L, 3L, at(2), Option.empty[Double]),
      (1L, 4L, at(3), Some(7.0)),
      (1L, 5L, at(4), Option.empty[Double]))
      .toDF("user_id", "event_id", "ts", "value")
    val out = EventAnalytics.forwardFill(crafted).orderBy("event_id")
      .select("filled_value").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(out == Seq(None, Some(5.0), Some(5.0), Some(7.0), Some(7.0)))
  }

  test("null profile: one row per column with exact counts") {
    val ev = Tables.events(spark, sf)
    val prof = StatsAnalytics.nullProfile(ev,
      Seq("user_id", "event_type", "value")).collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_null"), r.getAs[Long]("n_distinct"))).toMap
    assert(prof.keySet == Set("user_id", "event_type", "value"))
    assert(prof("user_id")._1 ==
      ev.filter(col("user_id").isNull).count())
    assert(prof("event_type")._2 ==
      ev.select("event_type").distinct().count())
  }

  test("ann recall: IVF overlap with brute force clears the floor with margin") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val exact = Similarity.bruteForceTopK(emb, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity.ivfTopK(emb, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble
    val recall = hits / exact.count()
    info(f"avg recall@5 = $recall%.3f")
    assert(recall >= 0.3, f"recall $recall%.3f leaves no margin on the 0.2 floor")
    assert(Similarity.annRecall(emb).head.getAs[Boolean]("recall_ok"))
  }

  test("cdc apply: latest op wins, deletes remove keys, snapshot survives") {
    def at(sec: Int) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    val snap = Seq((1L, 10.0, at(0), 100L), (2L, 20.0, at(0), 101L),
      (3L, 30.0, at(0), 102L))
      .toDF("user_id", "value", "ts", "event_id")
    val changes = Seq(
      (1L, 11.0, at(5), 200L, "U"),   // update user 1
      (2L, 0.0, at(5), 201L, "D"),    // delete user 2
      (3L, 31.0, at(5), 202L, "U"),   // update then re-delete user 3
      (3L, 0.0, at(9), 203L, "D"),
      (4L, 40.0, at(7), 204L, "U"))   // upsert unseen user 4
      .toDF("user_id", "value", "ts", "event_id", "op")
    val out = graft.operators.Upsert
      .applyChangelog(snap, changes, Seq("user_id"), col("ts"),
        col("event_id"))
      .select("user_id", "value").as[(Long, Double)].collect().sorted.toSeq
    assert(out == Seq((1L, 11.0), (4L, 40.0)))
  }

  test("unpivot restores the long layout with explicit zeros") {
    val ev = Tables.events(spark, sf)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val long = EventAnalytics.unpivotEventCounts(ev, types)
    val days = ev.select(graft.functions.CleanFns.eventDate(col("ts")))
      .distinct().count()
    assert(long.count() == days * types.length)
    assert(long.agg(sum("n_events")).head.getLong(0) == ev.count())
  }
}
