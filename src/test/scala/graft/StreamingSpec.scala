package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.warehouse.StarWarehouse

/** Structured-Streaming façade: the same logical plans as the batch engine,
  * driven incrementally (SURVEY.md §2.9). */
class StreamingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("streaming hourly counts equal the batch aggregation") {
    val streamed = EventStream.runAvailableNow(
      EventStream.hourlyCounts(EventStream.readEventsStream(spark, sf)),
      "complete")
    val batch = EventStream.hourlyCounts(Tables.events(spark, sf))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("watermarked dropDuplicates passes unique keys through (A5 stream)") {
    val streamed = EventStream.runAvailableNow(
      EventStream.dedupStream(EventStream.readEventsStream(spark, sf)),
      "append")
    val batchIds = Tables.events(spark, sf).select("event_id").distinct()
    assert(streamed.count() === batchIds.count())
  }

  test("session_window sessions agree between batch and streaming input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Three events for user 1: two within the gap, one beyond it; plus an
    // interleaved user 2. Expect sessions: u1×2, u2×1.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val rows = Seq(
      (1L, at(0), 10.0), (1L, at(10), 5.0), (1L, at(90), 2.5),
      (2L, at(3), 1.0))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    mem.addData(rows: _*)
    val asEvents = (df: org.apache.spark.sql.DataFrame) => df
      .toDF("user_id", "ts", "value")
    val streamed = EventStream.runAvailableNow(
      EventStream.sessions(asEvents(mem.toDF()), "30 minutes"), "complete")
    val batch = EventStream.sessions(asEvents(rows.toDF()), "30 minutes")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() === 3)
    val u1 = streamed.filter(col("user_id") === 1L)
      .orderBy("session_start").collect()
    assert(u1.length === 2)
    assert(u1(0).getAs[Long]("n_events") === 2)
    assert(u1(0).getAs[Double]("session_value") === 15.0)
  }

  test("foreachBatch upsert sink is idempotent under replay (D1 stream)") {
    val root = Files.createTempDirectory("graft_stream_upsert").toString
    val wh = new StarWarehouse(spark, root)
    def runOnce(checkpoint: String): Unit = {
      val stream = EventStream.readEventsStream(spark, sf)
        .select("event_id", "ts", "event_type", "value")
      val q = EventStream.upsertSink(stream, root, "fact", Seq("event_id"),
        "ts", checkpoint)
      q.awaitTermination()
    }
    runOnce(s"$root/cp1")
    // Materialize before replay: the commit in run 2 deletes run 1's
    // generation, so a lazy frame over it would dangle.
    val ids1 = wh.read("fact")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids1.size.toLong ===
      Tables.events(spark, sf).select("event_id").distinct().count())
    // Replay the whole input from a fresh checkpoint — same final state.
    runOnce(s"$root/cp2")
    val ids2 = wh.read("fact")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids2 === ids1)
  }

  test("dedup-on-arrival: fingerprint-keyed streaming upsert keeps the " +
    "first-seen doc per unique content across micro-batches") {
    import spark.implicits._
    // Documents arrive over three micro-batches; two later docs duplicate
    // earlier content modulo case/whitespace. The upsert sink keyed on the
    // content fingerprint with version = -doc_id (max-version merge ⇒
    // keep-FIRST) converges to one row per unique document — incremental
    // corpus dedup composed from the fingerprint expression and the
    // replay-idempotent sink, no bespoke streaming operator needed.
    val root = Files.createTempDirectory("graft_darr_").toString
    val src = s"$root/in"
    Seq(
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")),
      Seq((3L, "Alpha  BETA   gamma"), (4L, "zeta eta")), // 3 dups 1
      Seq((5L, "delta epsilon"), (6L, "theta iota"))      // 5 dups 2
    ).foreach { rows =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .select(col("doc_id"), col("text"),
        graft.ext.TextFns.fingerprint(col("text")).as("fp"),
        (-col("doc_id")).as("first_seen"))
    EventStream.upsertSink(stream, root, "table", Seq("fp"),
      "first_seen", s"$root/cp").awaitTermination()
    val out = new StarWarehouse(spark, root).read("table")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 4L, 6L))
  }

  test("mapGroupsWithState totals equal the batch aggregate across micro-batches") {
    // Split the fixture into several files and feed them one per trigger:
    // each user's state is updated in multiple micro-batches, so the
    // update-mode sink retains superseded rows — drainStatefulLatest must
    // recover exactly the final per-user state.
    val dir = Files.createTempDirectory("graft_stateful_").toString
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val streamed = EventStream.drainStatefulLatest(
      EventStream.statefulUserTotals(stream), Seq("user_id"), "n_events")
    val batch = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("transformWithState stats equal the batch aggregate across " +
    "micro-batches (RocksDB store)") {
    val dir = Files.createTempDirectory("graft_tws_").toString
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val streamed = EventStream.drainStatefulLatest(
      EventStream.twsUserStats(stream), Seq("user_id"), "n_events")
    val batch = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"),
        max(coalesce(col("value"), lit(0.0))).as("max_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("checkpointed upsert sink restarts incrementally: the second run " +
    "reads only files that arrived after the first") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt_").toString
    val src = s"$root/src"; val ck = s"$root/ck"
    val wh = new StarWarehouse(spark, root)
    def rows(r: Seq[(Long, String, Double)]) = r.toDF("event_id", "s", "v")
      .select(col("event_id"), col("s").cast("timestamp").as("ts"),
        col("v"))
    // first arrival: keys 1 and 2
    rows(Seq((1L, "2024-01-01 10:00:00", 1.0),
      (2L, "2024-01-01 11:00:00", 2.0)))
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run() = {
      val q = EventStream.upsertSink(
        spark.readStream.schema(schema).parquet(src),
        root, "tbl", Seq("event_id"), "ts", ck)
      q.awaitTermination()
      q
    }
    run()
    assert(wh.read("tbl").count() === 2)
    // second arrival: a NEWER version of key 2 plus a new key 3
    rows(Seq((2L, "2024-01-02 09:00:00", 20.0),
      (3L, "2024-01-01 12:00:00", 3.0)))
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = run()
    // restart proof: the checkpoint let run 2 read ONLY the new file
    val read2 = q2.recentProgress.map(_.numInputRows).sum
    assert(read2 === 2, s"second run re-read old files ($read2 rows)")
    val fin = wh.read("tbl")
      .select("event_id", "v").as[(Long, Double)].collect().toMap
    assert(fin === Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0))
  }

  test("upsert sink replay: a micro-batch whose commit fails leaves the " +
    "previous micro-batch's table; a restart converges") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sink_fail_").toString
    val src = s"$root/src"; val ck = s"$root/ck"
    val wh = new StarWarehouse(spark, root)
    def arrive(r: Seq[(Long, String, Double)]): Unit =
      r.toDF("event_id", "s", "v")
        .select(col("event_id"), col("s").cast("timestamp").as("ts"),
          col("v"))
        .coalesce(1).write.mode("append").parquet(src)
    def table = wh.read("tbl").select("event_id", "v")
      .as[(Long, Double)].collect().toMap
    arrive(Seq((1L, "2024-01-01 10:00:00", 1.0),
      (2L, "2024-01-01 11:00:00", 2.0)))
    val schema = spark.read.parquet(src).schema
    def run(): Unit = EventStream.upsertSink(
      spark.readStream.schema(schema).parquet(src),
      root, "tbl", Seq("event_id"), "ts", ck).awaitTermination()
    run()
    val first = table
    assert(first === Map(1L -> 1.0, 2L -> 2.0))
    arrive(Seq((2L, "2024-01-02 09:00:00", 20.0),
      (3L, "2024-01-01 12:00:00", 3.0)))
    // the next micro-batch's write of its generation fails
    val next = java.nio.file.Paths.get(root, "v2")
    FaultyCommit.failing(spark, next.resolve("tbl")) {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    }
    assert(table === first)
    assert(!Files.exists(next)) // the failed commit deleted its generation
    run() // restart: the checkpoint replays the failed micro-batch
    assert(table === Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0))
    assert(WarehouseFiles.pointer(root) === Seq("v2/tbl"))
  }

  test("transformWithState PSI monitor converges to the batch psiDrift " +
    "across micro-batches (RocksDB store)") {
    val dir = Files.createTempDirectory("graft_twspsi_").toString
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val mid = ev
      .agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
      .head.getDate(0)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val streamed = EventStream.drainStatefulLatest(
      EventStream.twsPsiDrift(stream, mid), Seq("event_type"), "n_seen")
      .drop("n_seen")
    val batch = graft.analytics.StatsAnalytics.psiDrift(
      Tables.events(spark, sf))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("transformWithState MapState sub-keyed counts equal the batch " +
    "rollup across micro-batches") {
    val dir = Files.createTempDirectory("graft_twsmap_").toString
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val streamed = EventStream.drainStatefulLatest(
      EventStream.twsTypeCounts(stream),
      Seq("user_id", "event_type"), "n_events")
    val batch = ev.filter(col("event_type").isNotNull)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("transformWithState ListState ring buffer is input-set pure " +
    "across micro-batches") {
    val dir = Files.createTempDirectory("graft_twslist_").toString
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val streamed = EventStream.drainStatefulLatest(
      EventStream.twsLastN(stream), Seq("user_id"), "n_seen")
    // batch truth: top-3 most recent event ids per user, comma-joined
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(unix_micros(col("ts")).desc, col("event_id").desc)
    val batch = ev.withColumn("rn", row_number().over(w))
      .withColumn("n_seen", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(first(col("n_seen")).as("n_seen"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("rn"), col("event_id")))),
          s => s.getField("event_id").cast("string"))).as("last_ids"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("flatMapGroupsWithState alerts are micro-batching-independent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_alerts_").toString
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = EventStream.runAvailableNow(
        EventStream.thresholdAlerts(stream), "append")
      .as[(Long, Long)].collect().toSet
    val exp = ev.groupBy("user_id")
      .agg(sum(coalesce(col("value"), lit(0.0))).as("total"))
      .filter(col("total") >= 1000.0)
      .select(col("user_id"), floor(col("total") / 1000.0).cast("long"))
      .as[(Long, Long)].collect()
      .flatMap { case (u, maxLvl) => (1L to maxLvl).map(u -> _) }.toSet
    assert(got == exp)
  }

  test("stream-stream join finds matches straddling micro-batches") {
    // Signup and purchase of the same user land in DIFFERENT micro-batches
    // (4 random file splits, one per trigger), so matches require the join
    // to buffer state across batches. Watermark is set wider than the
    // fixture's time span: nothing is ever late, so the streamed result
    // must equal the batch join exactly; eviction under tighter watermarks
    // is Spark's contract, what we own is the join condition + state keys.
    val dir = Files.createTempDirectory("graft_ssjoin_").toString
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val streamed = EventStream.runAvailableNow(
      EventStream.attributionJoin(
        stream.filter(col("event_type") === "signup"),
        stream.filter(col("event_type") === "purchase"),
        watermark = "90 days"),
      "append").select("signup_id", "purchase_id")
    val batch = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    val expected = batch.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .join(batch.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts")),
        col("su") === col("pu") && col("p_ts") >= col("s_ts") &&
          col("p_ts") < col("s_ts") + expr("INTERVAL 7 DAYS"))
      .select("signup_id", "purchase_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(expected).isEmpty &&
      expected.exceptAll(streamed).isEmpty)
  }

  test("stream-stream attribution join matches the batch range join") {
    val ev = EventStream.readEventsStream(spark, sf)
      .filter(col("user_id").isNotNull)
    val streamed = EventStream.runAvailableNow(
      EventStream.attributionJoin(
        ev.filter(col("event_type") === "signup"),
        ev.filter(col("event_type") === "purchase")),
      "append").select("signup_id", "purchase_id")
    val batchEv = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    val batch = graft.operators.RangeJoin.binnedRangeJoin(
      batchEv.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"),
          col("event_id").as("signup_id"), col("ts").as("s_ts"),
          (col("ts") + expr("INTERVAL 7 DAYS")).as("s_end")),
      batchEv.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("p_ts")),
      "s_user", "p_user", "s_ts", "s_end", "p_ts", 7L * 86400)
      .select("signup_id", "purchase_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("event-time TIMERS close the trailing session once the watermark " +
    "passes it; mid-stream sessions close inline (RocksDB store)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_timer_").toString
    val src = s"$root/in"
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // four micro-batches (maxFilesPerTrigger=1, files in write order):
    // f1 u1@0,@5 | f2 u1@120 (inline-closes session1) | f3 u9@240
    // (advances wm past u1's 150-min timer) | f4 u9@480 (batch whose
    // start-of-batch wm 239:50 fires the timer → trailing u1 session)
    Seq(Seq((1L, at(0)), (1L, at(5))), Seq((1L, at(120))),
      Seq((9L, at(240))), Seq((9L, at(480))))
      .foreach { rows =>
        rows.toDF("user_id", "ts").coalesce(1)
          .write.mode("append").parquet(src)
      }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val out = EventStream.runAvailableNow(
      EventStream.twsSessionTimeout(stream), "append")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // u1: session (0,5) closed inline by the 120' event; session (120)
    // closed by the TIMER once wm(=240'-10s) passed 150'
    assert(got.contains((1L, at(5).getTime, 2L)), got.toString)
    assert(got.contains((1L, at(120).getTime, 1L)), got.toString)
    // u9's 240' session closed inline by its 480' event; the trailing
    // 480' session's timer (510') is beyond the final watermark and
    // must NOT have fired
    assert(got.contains((9L, at(240).getTime, 1L)), got.toString)
    assert(!got.exists(r => r._1 == 9L && r._2 == at(480).getTime),
      got.toString)
  }

  test("a drain drops its memory-sink view; the frame keeps the rows") {
    val views = () => spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_")).toSet
    val streamed = EventStream.runAvailableNow(
      EventStream.hourlyCounts(EventStream.readEventsStream(spark, sf)),
      "complete")
    assert(views().isEmpty)
    assert(streamed.count() ===
      EventStream.hourlyCounts(Tables.events(spark, sf)).count())
  }

  test("registry drains run their state at 8 partitions (4 for " +
    "q_stream_attribution), RocksDB exactly for transformWithState, and " +
    "leave the caller's settings as they were") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val tws = Set("q_tws_user_stats", "q_tws_type_counts", "q_tws_last_n",
      "q_stream_psi")
    val drains = tws ++ Set("q_stream_hourly_counts", "q_stateful_totals",
      "q_threshold_alerts", "q_stream_attribution", "q_stream_enrich",
      "q_stream_dedup", "q_stream_interval_join")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StateOperatorProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(seen.add)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val caller = () => keys.map(spark.conf.getAll.get)
    spark.streams.addListener(listener)
    val prevShuffle = spark.conf.get(keys.head)
    spark.conf.set(keys.head, "3")
    try drains.toSeq.sorted.foreach { q =>
      seen.clear()
      val before = caller()
      SparkEntry.queries(q)(spark, sf).count()
      assert(caller() == before, q)
      org.apache.spark.sql.classic.GraftTestBridge
        .drainListenerBus(spark.sparkContext)
      val ops = seen.asScala.toSeq
      assert(ops.nonEmpty, q)
      val width = if (q == "q_stream_attribution") 4 else 8
      assert(ops.map(_.numShufflePartitions).toSet == Set(width), q)
      val rocks = ops.map(_.customMetrics.keySet.asScala
        .exists(_.startsWith("rocksdb")))
      assert(rocks.toSet == Set(tws(q)), q)
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set(keys.head, prevShuffle)
    }
  }
}
