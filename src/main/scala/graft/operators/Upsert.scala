package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D1/D2/A8 — the warehouse-maintenance operators (reference: load.py).
  *
  * D1 keyed upsert (`INSERT ... ON CONFLICT DO UPDATE`, load.py:58-67,
  * 199-217, 282-295) without a transactional table format: set-oriented
  * MERGE = `existing LEFT ANTI incoming` ∪ `incoming(deduped keep-latest)`.
  * Both sides hash-partition on the key — one shuffle each, and at scale the
  * anti-join side can be DPP/bucket-pruned. These are frame-in/frame-out;
  * persisting a merged table is `graft.warehouse.StarWarehouse`'s
  * generation commit.
  */
object Upsert {

  /** MERGE semantics: rows of `incoming` win over `existing` on `keys`;
    * duplicate keys inside `incoming` resolve keep-latest by `version`. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             version: Column, tiebreak: Column): DataFrame = {
    val latest = Dedup.keepLatest(incoming, keys, version, tiebreak)
    existing.join(latest, keys, "left_anti")
      .unionByName(latest.select(existing.columns.map(col).toSeq: _*))
  }

  /** Order-independent MERGE for versioned facts: the result is
    * keep-latest over every row the table has EVER been fed, so replaying
    * the same batches in ANY interleaving — or all at once — converges to
    * the same table (the §2.9 deterministic-replay invariant; property-
    * tested in PropertySpec). Contrast `upsert`, where incoming wins
    * regardless of version — the reference's ON CONFLICT DO UPDATE
    * arrival semantics, right for dims whose updates carry no version
    * column. Same single keyed-window shuffle shape as keep-latest. */
  def mergeLatest(existing: DataFrame, incoming: DataFrame,
                  keys: Seq[String], version: Column,
                  tiebreak: Column): DataFrame =
    Dedup.keepLatest(
      existing.unionByName(
        incoming.select(existing.columns.map(col).toSeq: _*)),
      keys, version, tiebreak)

  /** CDC changelog apply: fold an I/U/D operation log into a snapshot —
    * the MERGE-with-deletes a warehouse sync needs. Snapshot rows enter as
    * implicit inserts BELOW every change (version precedence comes from the
    * version column itself), the per-key latest operation wins, and a final
    * filter drops keys whose last operation is a delete. One keyed
    * window shuffle total — same WindowGroupLimit top-1 shape as
    * keep-latest dedup, so only candidate winners move per partition. */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
                     keys: Seq[String], version: Column, tiebreak: Column,
                     opCol: String = "op"): DataFrame =
    Dedup.keepLatest(
        snapshot.withColumn(opCol, lit("I")).unionByName(changes),
        keys, version, tiebreak)
      .filter(col(opCol) =!= "D")
      .drop(opCol)

  /** D2: deterministic surrogate keys replicating SQLite AUTOINCREMENT over
    * `sorted(set(...))` insertion order (load.py:75-79) — `dense_rank` over
    * the natural-key order, NOT `monotonically_increasing_id` (which is
    * partition-nondeterministic; SURVEY.md §7.6.2). The input here is a
    * deduplicated dim (small); the single-partition window is fine because
    * dims are broadcast-scale by construction. */
  def withSurrogateKey(dim: DataFrame, naturalKey: String,
                       idCol: String): DataFrame =
    dim.withColumn(idCol,
      dense_rank().over(Window.orderBy(col(naturalKey))).cast("bigint"))

  /** The 100 TB shape of [[withSurrogateKey]]: same ids (1..N in natural-
    * key sorted order over a deduplicated input), no single-partition
    * window anywhere in the plan. Keys RANGE-partition (so partition i's
    * keys all sort before partition i+1's), rank runs per partition under
    * a pid-PARTITIONED window (parallel across partitions), and each
    * partition's id block starts at the cumulative count of the
    * partitions before it. The per-partition counts are a bounded
    * driver-side read — one row per shuffle partition, thousands at
    * cluster scale — folded into a broadcast offset table. Ids depend
    * only on the global sort order, not on where the sampled range
    * boundaries happen to fall, so the result is deterministic and
    * bit-equal to the exact form (Round14OpsSpec checks equality and
    * pins the plan to partitioned-only windows). */
  def withSurrogateKeyScale(dim: DataFrame, naturalKey: String,
                            idCol: String): DataFrame = {
    val spark = dim.sparkSession
    // pin the range shuffle: both the count pass and the rank pass read
    // the SAME partition layout (and it computes once, not twice).
    // distinct() enforces the deduplicated-input contract the exact form
    // gets for free from dense_rank (duplicate natural keys would
    // otherwise take distinct row_number ids and silently diverge);
    // it folds into the range exchange already paid here.
    // EXPLICIT partition count: a bare repartitionByRange is an AQE
    // coalesce target, and on a small-ish key frame AQE collapses it to
    // ONE partition — turning the per-pid rank window below into a
    // single-partition corpus window (caught by the r12 near-constant-
    // partition lint: NDV(__pid)=1 with a corpus-linear feed). Pinning
    // numShufflePartitions keeps the rank parallel at every scale, the
    // same contract GlobalRank.withRowNumber pins.
    val ranged = dim.select(col(naturalKey)).distinct()
      .repartitionByRange(
        spark.sessionState.conf.numShufflePartitions, col(naturalKey))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L, 0L)) {
      case ((_, acc, _), (pid, n)) => (pid, acc + n, acc)
    }.tail.map { case (pid, _, off) => (pid, off) }
    import spark.implicits._
    val offsetDf = offsets.toSeq.toDF("__pid", "__offset")
    ranged
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(col(naturalKey))))
      .join(broadcast(offsetDf), Seq("__pid"))
      .select(col(naturalKey),
        (col("__r") + col("__offset")).cast("bigint").as(idCol))
  }

  /** SCD Type-2 dimension history from a change feed: collapse consecutive
    * equal attribute values per key into versioned validity intervals
    * (gaps-and-islands). `valid_to` is the next version's `valid_from`
    * (half-open intervals); the open version has `valid_to` NULL and
    * `is_current` true.
    *
    * Shuffle shape: ONE hash partition on `key` serves the change-detect
    * window, the island aggregate, and the valid_to lead window — Catalyst
    * reuses the exchange because every step is keyed identically. The
    * change feed is already one row per (key, ord) — at 100 TB the islands
    * frame is strictly smaller, so nothing here touches raw-event volume. */
  def scd2History(changes: DataFrame, key: String, ord: String,
                  attr: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ord)
    // Null-safe change detection (<=>): a transition to or from a NULL
    // attribute value opens a new version like any other change — plain
    // =!= would yield NULL there and silently extend the prior version.
    // The explicit first-row guard covers a key whose FIRST value is NULL
    // (lag's no-row NULL would otherwise <=>-match it). Both window
    // functions share one (key, ord) sort — a single exchange.
    val marked = changes.withColumn("__prev", lag(col(attr), 1).over(w))
      .withColumn("__chg",
        when(row_number().over(w) === 1 ||
          !(col("__prev") <=> col(attr)), 1L).otherwise(0L))
      .withColumn("version",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val islands = marked.groupBy(col(key), col("version"), col(attr))
      .agg(min(col(ord)).as("valid_from"), count(lit(1)).as("n_days"))
    val wKey = Window.partitionBy(key).orderBy("valid_from")
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wKey))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(key), col("version"), col(attr), col("valid_from"),
        col("valid_to"), col("is_current"), col("n_days"))
  }

  /** A8: dim_dates expansion — 'yyyy-MM-dd' key → (year, month, day),
    * malformed keys skipped (load.py:83-102). */
  def dimDates(dateKeys: DataFrame, keyCol: String): DataFrame = {
    dateKeys.select(col(keyCol).as("date_key"))
      .distinct()
      .withColumn("__d", try_to_timestamp(col("date_key"), lit("yyyy-MM-dd")))
      .filter(col("__d").isNotNull)
      .select(
        col("date_key"),
        year(col("__d")).cast("bigint").as("year"),
        month(col("__d")).cast("bigint").as("month"),
        dayofmonth(col("__d")).cast("bigint").as("day"))
  }
}
