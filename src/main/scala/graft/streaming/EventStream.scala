package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.CleanFns._
import graft.operators.{Dedup, Upsert}
import graft.warehouse.StarWarehouse

/** Structured-Streaming façade over the batch engine (SURVEY.md §2.9).
  *
  * The reference achieves exactly-once by deterministic batch replay
  * (hash ids kaggle_amazon_sales_loader.py:28-31 + keyed upserts
  * load.py:58-67); this module provides the incremental equivalent:
  * `readStream` → watermarked `dropDuplicates` (A5) → event-time windowed
  * aggregation (A1–A3) → `foreachBatch` keyed upsert (D1). Every transform
  * is the SAME Column expression the batch path uses — streaming here is a
  * different physical driver over identical logical plans, which is exactly
  * how Spark wants it.
  *
  * Scale notes: state for `dropDuplicates` is bounded by the watermark
  * horizon (keys older than the watermark are evicted); the windowed
  * aggregates keep one row of state per (window, group) and emit
  * incrementally, so a 1000-executor cluster holds state proportional to
  * the horizon, not the history. The `foreachBatch` upsert inherits the
  * batch Upsert's shuffle shape: one hash partitioning per key on each side.
  */
/** State row for `EventStream.statefulUserTotals`. */
case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** Output row for `EventStream.twsUserStats`. */
case class UserStats(user_id: Long, n_events: Long, total_value: Double,
                     max_value: Double)

/** Output row for `EventStream.twsTypeCounts`. */
case class UserTypeCount(user_id: Long, event_type: String, n_events: Long)

/** Output row for `EventStream.twsLastN`. */
case class UserLastN(user_id: Long, n_seen: Long, last_ids: String)
case class SessionEnd(user_id: Long, session_end_ms: Long, n_events: Long)

/** Output row for `EventStream.twsPsiDrift`. */
case class DriftPsi(event_type: String, n_seen: Long, n_early: Long,
                    n_late: Long, n_bins: Long, psi: Double)

/** transformWithState processor behind `EventStream.twsPsiDrift`: a
  * per-event-type binned histogram in MapState (key = bucket·2 + period,
  * value = count — one long per live bin, so state is bounded by the
  * value range, not the stream length), re-scored to the smoothed PSI on
  * every micro-batch. Counts are commutative, so the converged state —
  * and the last emitted row per key — equals the batch
  * [[graft.analytics.StatsAnalytics.psiDrift]] under ANY micro-batch
  * split; the per-bin terms replicate the batch decimal(28,12)-summed
  * double arithmetic exactly (BigDecimal.valueOf ≡ Spark's double→decimal
  * cast, and the term sum is order-independent in decimal). */
class DriftPsiProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long, Long), DriftPsi] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
    TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var hist: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    hist = getHandle.getMapState[Long, Long]("hist",
      Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String,
                               rows: Iterator[(String, Long, Long)],
                               tv: TimerValues): Iterator[DriftPsi] = {
    import java.math.{BigDecimal => JBig, RoundingMode}
    rows.foreach { case (_, early, bucket) =>
      val k = bucket * 2 + early
      val n = if (hist.containsKey(k)) hist.getValue(k) else 0L
      hist.updateValue(k, n + 1L)
    }
    // re-score the full state: decode (bucket, period) and fold the bins
    val cells = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    hist.iterator().foreach { case (k, n) =>
      val bucket = Math.floorDiv(k, 2L)
      val early = k - 2L * bucket
      val (ce, cl) = cells.getOrElse(bucket, (0L, 0L))
      cells(bucket) = if (early == 1L) (ce + n, cl) else (ce, cl + n)
    }
    val nEarly = cells.valuesIterator.map(_._1).sum
    val nLate = cells.valuesIterator.map(_._2).sum
    val nBins = cells.size.toLong
    var acc = JBig.ZERO
    cells.valuesIterator.foreach { case (ce, cl) =>
      // identical double dataflow to the batch/oracle expression
      val p = (ce.toDouble + 0.5) / (nEarly.toDouble + 0.5 * nBins.toDouble)
      val q = (cl.toDouble + 0.5) / (nLate.toDouble + 0.5 * nBins.toDouble)
      val term = (p - q) * math.log(p / q)
      acc = acc.add(JBig.valueOf(term).setScale(12, RoundingMode.HALF_UP))
    }
    val psi = JBig.valueOf(acc.doubleValue)
      .setScale(6, RoundingMode.HALF_UP).doubleValue
    Iterator.single(
      DriftPsi(key, nEarly + nLate, nEarly, nLate, nBins, psi))
  }
}

/** transformWithState processor with LIST-typed state plus a ValueState
  * counter: keeps each user's n most recent (ts, event_id) pairs — a
  * bounded ring buffer, the state shape behind "last N actions" features
  * — and a monotone seen-counter so keep-latest can recover the final
  * buffer. Recency order is (ts, event_id) DESC, so the buffer content
  * is a pure function of the input SET: within-batch arrival order and
  * micro-batch splits cannot change it. */
class UserLastNProcessor(n: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), UserLastN] {
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode,
    TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var recent: ListState[(Long, Long)] = _
  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    recent = getHandle.getListState[(Long, Long)]("recent",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
    seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, Long, Long)],
                               tv: TimerValues): Iterator[UserLastN] = {
    val added = rows.map(r => (r._2, r._3)).toSeq
    val total = (if (seen.exists()) seen.get() else 0L) + added.size
    val top = (recent.get().toSeq ++ added)
      .sortBy { case (t, id) => (-t, -id) }.take(n)
    recent.put(top.toArray)
    seen.update(total)
    Iterator.single(UserLastN(key, total,
      top.map(_._2).mkString(",")))
  }
}

/** transformWithState processor with MAP-typed state: per-user counts
  * keyed by event type in one MapState cell — sub-keyed state without
  * widening the stream's grouping key (grouping by (user, type) instead
  * would shuffle on the wider key and make per-user rollups a second
  * shuffle). Emits the updated entries of each touched user per batch;
  * counts are monotone, so keep-latest recovers the final map. */
class UserTypeCountsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), UserTypeCount] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
    TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                               tv: TimerValues): Iterator[UserTypeCount] = {
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach { r =>
      val t = r._2
      val n = if (counts.containsKey(t)) counts.getValue(t) else 0L
      counts.updateValue(t, n + 1L)
      touched += t
    }
    touched.iterator.map(t => UserTypeCount(key, t, counts.getValue(t)))
  }
}

/** Spark 4 `transformWithState` processor behind `EventStream.twsUserStats`:
  * running per-user (count, total, max) in a single ValueState cell. The
  * count and max are order-independent as-is; the total accumulates in
  * DECIMAL inside the state cell (a double running sum would depend on
  * micro-batch arrival order, and the 2dp rounding at emit could straddle
  * a float boundary — same fix as the batch decimal-sum anchors). The
  * final state — and the last emitted row per key — is therefore the same
  * under any micro-batch split. TTL is NONE for oracle determinism; at
  * cluster scale pass a TTLConfig so idle users age out of RocksDB. */
class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), UserStats] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
    TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state:
    ValueState[(Long, java.math.BigDecimal, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, java.math.BigDecimal, Double)](
      "stats",
      Encoders.tuple(Encoders.scalaLong, Encoders.DECIMAL,
        Encoders.scalaDouble),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                               tv: TimerValues): Iterator[UserStats] = {
    import java.math.{BigDecimal => JBig, RoundingMode}
    var (n, tot, mx) =
      if (state.exists()) state.get()
      else (0L, JBig.ZERO, Double.NegativeInfinity)
    rows.foreach { r =>
      n += 1
      tot = tot.add(JBig.valueOf(r._2).setScale(6, RoundingMode.HALF_UP))
      mx = math.max(mx, r._2)
    }
    state.update((n, tot, mx))
    // emit the 2dp HALF_UP decimal round — exact, unlike rounding the
    // nearest-double image of the sum
    Iterator.single(UserStats(key, n,
      tot.setScale(2, RoundingMode.HALF_UP).doubleValue, mx))
  }
}

/** Event-time session-timeout processor — the TIMER leg of the
  * `transformWithState` family (Value/Map/List state cells are covered
  * by the sibling processors): a ValueState holds the open session's
  * (last event ms, event count) per user. A batch's rows fold in
  * event-time order; a gap beyond `gapMs` closes the open session
  * INLINE (append emission from handleInputRows — no watermark needed,
  * the next event itself proves the gap), while the single re-armed
  * EVENT-TIME TIMER at last+gap closes the trailing session once the
  * watermark certifies silence — the case inline logic can never see.
  * Timer hygiene: the previous timer is deleted before re-arming, so a
  * key holds at most one live timer however many batches touch it; the
  * expired-timer path re-checks the expiry against current state so a
  * stale fire (input arrived after arming) is a no-op. Late rows
  * (t ≤ last) join the open session without moving its end. */
class SessionTimeoutProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), SessionEnd] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
    TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("sess",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, java.sql.Timestamp)],
      tv: TimerValues): Iterator[SessionEnd] = {
    val ts = rows.map(_._2.getTime).toArray.sorted
    var out = List.empty[SessionEnd]
    var (last, n) = if (st.exists()) st.get() else (Long.MinValue, 0L)
    ts.foreach { t =>
      if (n > 0L && t - last > gapMs) {
        out ::= SessionEnd(key, last, n)
        n = 0L
      }
      last = math.max(last, t)
      n += 1
    }
    getHandle.listTimers().foreach(e => getHandle.deleteTimer(e))
    getHandle.registerTimer(last + gapMs)
    st.update((last, n))
    out.reverseIterator
  }

  override def handleExpiredTimer(key: Long, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[SessionEnd] = {
    if (!st.exists()) Iterator.empty
    else {
      val (last, n) = st.get()
      if (info.getExpiryTimeInMs() < last + gapMs) Iterator.empty
      else { st.clear(); Iterator.single(SessionEnd(key, last, n)) }
    }
  }
}

object EventStream {

  private val nameCounter = new AtomicLong(0)

  /** Streaming scan of the events fixture. A streaming source must be
    * given its schema up front (no inference race on a growing directory):
    * it takes the batch read's, from `graft.Tables.table`'s probe (once
    * per session and file mtime), and `ts` goes through the batch
    * adapter, `Tables.withEventTs`. */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.Tables.table(spark, sfDir, "events").schema
    // The file streaming source monitors a DIRECTORY; narrow it to the one
    // fixture file with a glob filter (a direct file path is rejected).
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    graft.Tables.withEventTs(raw, schema("ts").dataType)
  }

  /** A5 incrementally: watermarked keyed dedup with BOUNDED state.
    * `dropDuplicatesWithinWatermark`, not `dropDuplicates`: with plain
    * dropDuplicates the event-time column must be part of the dedup key
    * for state eviction — keyed on event_id alone its state grows with
    * the key universe forever. The within-watermark variant evicts each
    * key once the watermark passes its event time, which is the state
    * bound the reference's replay window actually needs. */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Semantic keyed dedup under streaming: collapse each (user, type,
    * minute) to its first arrival, state bounded by the watermark horizon.
    * Only the key columns are deterministic under replay (which PHYSICAL
    * row survives depends on arrival order), so consumers — and the oracle
    * — project the key set. Same state-eviction contract as `dedupStream`. */
  def streamKeyDedup(events: DataFrame,
                     watermark: String = "1 hour"): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .withColumn("minute", date_format(col("ts"), "yyyy-MM-dd HH:mm"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type", "minute"))

  /** Stream-static enrichment: join the stream against a BATCH dimension
    * frame, then aggregate. The static side re-resolves per micro-batch
    * (picking up dimension updates between batches) and broadcasts — the
    * join itself is STATELESS; only the downstream aggregate holds state.
    * This is the streaming form of the reference's enrich-then-aggregate
    * (transform.py dimension join), and the shape that scales: the stream
    * never shuffles for the join, only for the |groups|-sized aggregate. */
  def enrichCounts(events: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String,
                   groupCol: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_events"))

  /** A3-shaped event-time rollup: hourly counts + value sum per type. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Sessionization via the native `session_window` (gap-based). Works
    * identically over batch and streaming input — the batch form is the
    * oracle-checked `q_sessionize`; StreamingSpec drives the same plan
    * through a stream. Session end = last event ts + gap (Spark contract). */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("session_value"))
      .select(col("user_id"),
        tsMicros(col("session_window.start")).as("session_start"),
        tsMicros(col("session_window.end")).as("session_end"),
        col("n_events"), col("session_value"))

  /** Stream–stream interval join: every purchase within `window` AFTER a
    * click by the same user — the conversion-pairing primitive, run as a
    * genuine two-stream join (both sides are filtered views of the event
    * stream; Structured Streaming buffers each side's state and the
    * watermark + time-range condition bound that state: a click older
    * than watermark+window can never match again and is evicted). Inner
    * join in append mode — no aggregate downstream, so availableNow
    * emits the complete pair set. At 100 TB the state per key is the
    * in-window slice only, and the join shuffles both sides once on
    * user_id. */
  def streamIntervalJoin(events: DataFrame,
                         window: String = "30 minutes"): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click" && col("user_id").isNotNull &&
        col("ts").isNotNull)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $window"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
          .as("gap_sec"))
  }

  /** Drain a streaming frame on currently-available input via the memory
    * sink and return the materialized result. `AvailableNow` processes all
    * existing files then stops — the streaming analog of a batch run.
    *
    * The drain owns the state settings of its stream, and sets them on
    * that stream only:
    *  - `statePartitions` is the stateful shuffle width. It is fixed at the
    *    query's first batch, and each partition carries a state-store
    *    instance plus a per-batch checkpoint file, so at fixture volume 8
    *    is the right width (32 costs ~1.6× warm, ~4× cold). On a real
    *    cluster it is sized to the executor count, not inherited from the
    *    batch shuffle width.
    *  - a plan holding a `transformWithState` operator gets the RocksDB
    *    state store, the only provider that operator runs on.
    * They are written to the session just across `start()`, which clones
    * the session for the stream (`StreamExecution.sparkSessionForStream`),
    * and restored before the stream is awaited.
    *
    * The memory sink's temp view is dropped once the result has resolved
    * it, so the drained rows live exactly as long as the returned frame. */
  def runAvailableNow(stream: DataFrame, outputMode: String,
                      statePartitions: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val tws = stream.queryExecution.analyzed
      .exists(_.isInstanceOf[TransformWithState])
    val settings =
      Seq("spark.sql.shuffle.partitions" -> statePartitions.toString) ++
        Option.when(tws)(StateStoreProvider -> RocksDbProvider)
    val before = spark.conf.getAll
    val q = try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      stream.writeStream.format("memory").queryName(name)
        .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
    } finally settings.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    q.awaitTermination()
    val drained = spark.table(name)
    spark.catalog.dropTempView(name)
    drained
  }

  private val StateStoreProvider =
    "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** D1 incrementally: per-micro-batch keyed upsert into warehouse
    * `root`'s `table`, one generation commit (`StarWarehouse.replace`) per
    * micro-batch. Greatest `version` wins within AND across batches via
    * the order-independent `mergeLatest` (keep-latest over everything ever
    * fed), so replaying ANY batch, in any order — checkpoint recovery,
    * at-least-once redelivery, out-of-order files — converges to the same
    * table: the §2.9 exactly-once story the reference gets from
    * deterministic replay, kept under streaming. Inverting the version
    * column (e.g. `-doc_id`) flips the policy to keep-FIRST, which is the
    * dedup-on-arrival composition StreamingSpec exercises. */
  def upsertSink(stream: DataFrame, root: String, table: String,
                 keys: Seq[String], versionCol: String,
                 checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val tiebreak = Dedup.rowHash(batch)
        new StarWarehouse(batch.sparkSession, root).replace(table) {
          case Some(existing) => Upsert.mergeLatest(existing, batch, keys,
            col(versionCol), tiebreak)
          case None => Dedup.keepLatest(batch, keys, col(versionCol), tiebreak)
        }
      }
      .start()

  /** Custom keyed state via `mapGroupsWithState`: running per-user event
    * count and value total, carried across micro-batches. For when the
    * built-in aggregates can't express the state transition (counters with
    * business rules, fraud scores, decaying sums). State is one small case
    * class per active user — at cluster scale pair with a timeout
    * (`GroupStateTimeout.ProcessingTimeTimeout` + `state.setTimeoutDuration`)
    * so idle keys age out instead of accumulating forever. */
  def statefulUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // The value total accumulates in DECIMAL state (order-independent
    // across micro-batch splits) and emits as an exact 2dp HALF_UP round —
    // same determinism contract as UserStatsProcessor.
    events.filter(col("user_id").isNotNull)
      .select(col("user_id").cast("long"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, BigDecimal), UserTotals](
        GroupStateTimeout.NoTimeout()) { (uid, rows, state) =>
        var (n, v) = state.getOption.getOrElse((0L, BigDecimal(0)))
        rows.foreach { r =>
          n += 1
          v += BigDecimal.valueOf(r._2)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }
        state.update((n, v))
        UserTotals(uid, n,
          v.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF()
  }

  /** Running per-user stats via Spark 4's `transformWithState` — the
    * arbitrary-stateful-processing successor to mapGroupsWithState: typed
    * state cells (Value/List/Map) with per-state TTL, timers, and a
    * RocksDB-backed store. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider ([[runAvailableNow]] sets it for the
    * stream; the HDFS-backed default store does not support this
    * operator). Update-mode output:
    * one row per touched key per batch; `n_events` is monotone per key,
    * so `drainStatefulLatest` recovers the final state under any batch
    * split. */
  def twsUserStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.filter(col("user_id").isNotNull)
      .select(col("user_id").cast("long"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserStatsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF() // total_value already decimal-rounded by the processor
  }

  /** Per-user event-type counts via `transformWithState` MapState (see
    * [[UserTypeCountsProcessor]]). Same RocksDB-provider requirement as
    * [[twsUserStats]]. */
  def twsTypeCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new UserTypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Per-user last-n event ids via `transformWithState` ListState (see
    * [[UserLastNProcessor]]). Same RocksDB requirement as the other
    * tws operators. */
  def twsLastN(events: DataFrame, n: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // ts feeds a non-nullable Long tuple field: a null ts would NPE in the
    // deserializer and kill the stream, so filter it like null user_id
    // (the oracle's WHERE clause matches to keep n_seen parity).
    events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserLastNProcessor(n),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Session-close records via event-time TIMERS (see
    * [[SessionTimeoutProcessor]]) — append-mode `transformWithState`
    * under `TimeMode.EventTime`: mid-stream sessions close inline when
    * the next event proves the gap; the TRAILING session closes when
    * the watermark (from `delay` on `ts`) passes its re-armed timer.
    * The watermarked `ts` column must survive projection down to the
    * operator. Same RocksDB-provider requirement as the tws siblings. */
  def twsSessionTimeout(events: DataFrame,
                        gapMs: Long = 30L * 60L * 1000L,
                        delay: String = "10 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Streaming PSI drift monitor via `transformWithState` MapState (see
    * [[DriftPsiProcessor]]): each micro-batch updates the per-event-type
    * binned histogram and emits the current smoothed PSI between the
    * fixed `mid`-split periods — the online form of the batch
    * [[graft.analytics.StatsAnalytics.psiDrift]], converging to the same
    * rows. `mid` is a config, not derived from the stream (an unbounded
    * stream has no max date); same RocksDB-provider requirement as the
    * other tws operators. */
  def twsPsiDrift(events: DataFrame, mid: java.sql.Date,
                  invWidth: Double = 2.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.filter(col("value").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"),
        when(to_date(col("ts")) <= lit(mid), 1L).otherwise(0L).as("early"),
        floor(col("value") * invWidth).cast("bigint").as("bucket"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new DriftPsiProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Zero-or-more rows per key per batch via `flatMapGroupsWithState`:
    * emits an alert row each time a user's RUNNING value total crosses a
    * NEW HIGHEST multiple of `step` (so a key can emit 0, 1, or many rows
    * per micro-batch — the shape `mapGroupsWithState`'s exactly-one-row
    * contract cannot express). State is (count, total, max emitted level)
    * per user, carried across batches. Tracking the max emitted level makes
    * the output a SET keyed on (user, level) even when event values can be
    * negative: a total that recedes and re-crosses the same multiple does
    * not re-emit it, so the result is batching- and order-independent for
    * any sign of input. */
  def thresholdAlerts(events: DataFrame, step: Double = 1000.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.filter(col("user_id").isNotNull)
      .select(col("user_id").cast("long"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Long), (Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (uid, rows, state) =>
        var (n, total, maxLvl) = state.getOption.getOrElse((0L, 0.0, 0L))
        val alerts = Seq.newBuilder[(Long, Long)]
        rows.foreach { r =>
          n += 1; total += r._2
          val after = math.floor(total / step).toLong
          var lvl = maxLvl + 1
          while (lvl <= after) { // one alert per newly-reached multiple
            alerts += ((uid, lvl))
            lvl += 1
          }
          if (after > maxLvl) maxLvl = after
        }
        state.update((n, total, maxLvl))
        alerts.result().iterator
      }
      .toDF("user_id", "level")
  }

  /** Drain an update-mode stateful stream and keep only the LATEST emitted
    * row per key. An update-mode memory sink appends each micro-batch's
    * updated rows, so a key updated in several batches leaves superseded
    * versions in the table; `versionCol` must be monotonically
    * non-decreasing per key across batches (e.g. `statefulUserTotals`'s
    * running `n_events` counter) so keep-latest selects the final state
    * regardless of how the input was split into micro-batches. */
  def drainStatefulLatest(stream: DataFrame, keys: Seq[String],
                          versionCol: String): DataFrame = {
    val drained = runAvailableNow(stream, "update")
    Dedup.keepLatest(drained, keys, col(versionCol), Dedup.rowHash(drained))
  }

  /** Stream-stream attribution join: purchases within `window` after a
    * signup, incrementally — the streaming counterpart of the batch
    * `RangeJoin.binnedRangeJoin` query. Watermarks on BOTH sides plus the
    * time-range join condition let Spark bound the join state: a buffered
    * signup is evicted once the purchase-side watermark passes
    * signup_ts + window, so state never grows with stream length. */
  def attributionJoin(signups: DataFrame, purchases: DataFrame,
                      window: String = "7 days",
                      watermark: String = "1 hour"): DataFrame = {
    val s = signups
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    s.join(p,
      col("s_user") === col("p_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") < col("s_ts") + expr(s"INTERVAL $window"))
  }
}
