package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CleanFns._
import graft.Par
import graft.operators.{Dedup, Upsert}

/** The star-schema load layer (reference: pipeline/load.py +
  * sql/warehouse_star.sql): dim extraction (A6), surrogate keys (D2),
  * dim_dates (A8), keyed fact upsert (D1) — persisted as parquet tables
  * under a warehouse root, partitioned by event_date (the analog of the
  * reference's B-tree date indexes, warehouse_star.sql:71-77 — gives
  * partition pruning on every date predicate at scale).
  *
  * A load is made of steps, each writing exactly one table through
  * `Upsert.overwriteViaSwap`: the dims (`upsertDimUsers`,
  * `upsertDimEventTypes`, `upsertIntlDims` — customers and products —
  * and `upsertDimDates`) and the two fact merges (`mergeFactEvents`,
  * `mergeFactInternationalSales`), which read their dims back from disk.
  * `upsertFactEvents` and `upsertFactInternationalSales[Batches]` compose
  * them: the fact's dims concurrently through [[graft.Par]], then the
  * fact merge. `graft.Pipeline` composes the same steps across both facts
  * so that one batch writes `dim_dates` once.
  */
object StarWarehouse {
  /** Target bytes per output file of the range-clustered intl fact. */
  private[warehouse] val TargetPartitionBytes: Long = 128L * 1024 * 1024
}

class StarWarehouse(spark: SparkSession, root: String) {

  def path(table: String): String = s"$root/$table"

  /** Partition-column type inference would read the `event_date=...` /
    * `date_key=...` directory keys back as DATE; the warehouse contract is
    * the reference's 'yyyy-MM-dd' string (warehouse_star.sql:34,46,57), so
    * normalize on read. */
  def read(table: String): DataFrame = {
    val df = spark.read.parquet(path(table))
    Seq("event_date", "date_key").foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(c)) acc.withColumn(c, col(c).cast("string"))
      else acc
    }
  }

  def tableExists(table: String): Boolean = exists(table)

  private def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** dim_users from the cleaned (joined) events — the reference feeds the
    * joined frame, so users with no events never reach dim_users
    * (run_pipeline.py:65-70; SURVEY.md §3.1.4). F7: blank keys dropped. */
  def upsertDimUsers(cleaned: DataFrame): Unit = {
    val incoming = cleaned
      .filter(col("user_id").isNotNull && trim(col("user_id")) =!= "")
      .select(col("user_id"),
        defaultFill(col("country")).as("country"),
        defaultFill(col("signup_source")).as("signup_source"))
    val latest = Dedup.keepLatest(incoming, Seq("user_id"),
      lit(1), Dedup.rowHash(incoming))
    val merged = if (exists("dim_users"))
      Upsert.upsert(read("dim_users"), latest, Seq("user_id"), lit(1),
        Dedup.rowHash(latest))
    else latest
    Upsert.overwriteViaSwap(spark, merged, path("dim_users"))
  }

  /** One INSERT OR IGNORE round of the enum-dim id sequence, with NO
    * write: existing natural keys keep their ids; new keys extend the
    * sequence in sorted order (load.py:75-79). The id offset (max existing
    * id) enters the plan as a one-row broadcast cross join rather than a
    * driver-side collect. Pure frame-in/frame-out so a multi-batch load
    * can fold its batches through this and pay ONE dim write total. */
  private def mergeEnumDim(existing: Option[DataFrame], values: DataFrame,
                           naturalKey: String, idCol: String): DataFrame = {
    val incoming = values.select(col(naturalKey)).distinct()
    existing match {
      case Some(ex) =>
        val maxId = ex.agg(coalesce(max(col(idCol)), lit(0L)).as("__max_id"))
        val fresh = incoming.join(ex, Seq(naturalKey), "left_anti")
        val freshWithIds = Upsert.withSurrogateKey(fresh, naturalKey, idCol)
          .crossJoin(broadcast(maxId))
          .withColumn(idCol, col(idCol) + col("__max_id"))
          .drop("__max_id")
        ex.unionByName(freshWithIds)
      case None => Upsert.withSurrogateKey(incoming, naturalKey, idCol)
    }
  }

  /** Enum dims with deterministic surrogate keys (D2). Folds N batches
    * through the INSERT OR IGNORE id sequence IN ORDER (batch i+1's unseen
    * keys extend the id range batch i finished at — identical ids to N
    * one-batch calls, because each fold step is the same merge a one-batch
    * call persists) but pays ONE write instead of N. The folded plan
    * re-evaluates earlier batches' key sets a few times (anti-join +
    * max-id broadcast per step) — enum dims are distinct-key scale, so
    * re-evaluating a tiny aggregate beats re-reading and re-writing the
    * table N−1 times on any storage. */
  def upsertEnumDimBatches(batches: Seq[DataFrame], naturalKey: String,
                           idCol: String, table: String): Unit = {
    val start = if (exists(table)) Some(read(table)) else None
    val merged = batches.foldLeft(start) { (acc, b) =>
      Some(mergeEnumDim(acc, b, naturalKey, idCol))
    }.get
    // Enum dims are broadcast-scale by construction: one output file is
    // the right layout at any fact volume (32 shuffle-partition shards of
    // a few-hundred-row dim are pure file-creation + listing overhead).
    Upsert.overwriteViaSwap(spark, merged.coalesce(1), path(table))
  }

  /** dim_dates (A8), INSERT OR IGNORE by date_key. */
  def upsertDimDates(dateKeys: DataFrame, keyCol: String): Unit = {
    val incoming = Upsert.dimDates(dateKeys, keyCol)
    val merged = if (exists("dim_dates"))
      read("dim_dates").unionByName(
        incoming.join(read("dim_dates"), Seq("date_key"), "left_anti"))
    else incoming
    // date grain: one row per day — single-file at any fact volume.
    Upsert.overwriteViaSwap(spark, merged.coalesce(1), path("dim_dates"))
  }

  /** dim_event_types (D2) over the cleaned events' names. */
  def upsertDimEventTypes(cleaned: DataFrame): Unit =
    upsertEnumDimBatches(Seq(cleaned.select(col("event"))), "event",
      "event_type_id", "dim_event_types")

  /** fact_events upsert (D1, load.py:251-297): dim_event_types and
    * dim_dates as concurrent Spark jobs, then [[mergeFactEvents]]. */
  def upsertFactEvents(cleaned: DataFrame): Unit = {
    Par.all(() => upsertDimEventTypes(cleaned),
      () => upsertDimDates(cleaned.select(col("event_date")), "event_date"))
    mergeFactEvents(cleaned)
  }

  /** The fact_events merge alone, once dim_event_types holds every event
    * name in `cleaned`: resolves event_type_id via broadcast join against
    * the enum dim (J4), keyed on event_id with latest-(ts, row-hash)-wins
    * via the order-independent mergeLatest — replaying batches in any
    * interleaving converges to the same fact table (§2.9; PropertySpec).
    * Partitioned by event_date. */
  def mergeFactEvents(cleaned: DataFrame): Unit = {
    val dimTypes = read("dim_event_types")
    val incoming = cleaned
      .select(col("event_id"), col("ts"), col("user_id"), col("event"),
        col("amount"), col("event_date"), col("event_hour"))
    // The merge runs in NATURAL space (event name, not event_type_id):
    // the tiebreak row-hash must not see the surrogate id, whose value
    // depends on dim insertion order — hashing it would make equal-ts
    // duplicate resolution depend on batch interleaving and break the
    // §2.9 replay invariant. The dim joins are broadcast (enum-scale).
    val merged = if (exists("fact_events")) {
      val existingNat = read("fact_events")
        .join(broadcast(dimTypes), Seq("event_type_id"))
        .select(incoming.columns.map(col).toSeq: _*)
      Upsert.mergeLatest(existingNat, incoming, Seq("event_id"),
        col("ts"), Dedup.rowHash(incoming))
    } else Dedup.keepLatest(incoming, Seq("event_id"), col("ts"),
      Dedup.rowHash(incoming))
    val resolved = merged.join(broadcast(dimTypes), Seq("event"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type_id"), col("amount"), col("event_date"),
        col("event_hour"))
    Upsert.overwriteViaSwap(spark, resolved, path("fact_events"),
      Seq("event_date"))
  }

  /** fact_international_sales upsert (S6/D1; load.py:141-219,
    * warehouse_star.sql:54-69): ensure dim_dates for every date_key, upsert
    * the customer/product enum dims (INSERT OR IGNORE, sorted insertion
    * order — load.py:108-131), resolve surrogate keys through broadcast
    * lookups (the c_map/p_map dict joins, load.py:166-172), convert types,
    * skip rows whose dim lookup or gross_amt is null (load.py:184-186), and
    * MERGE keyed on sale_id (ON CONFLICT(sale_id) DO UPDATE,
    * load.py:199-217). Partitioned by date_key on disk — the analog of
    * idx_intl_sales_date (warehouse_star.sql:78).
    *
    * `intl` columns (the canonical intl-sales record,
    * kaggle_amazon_sales_loader.py:234-246): sale_id, ts (timestamp),
    * date_key, customer, sku, pcs, rate, gross_amt, currency
    * [, source_dataset].
    *
    * Duplicate sale_ids — within a batch OR across batches — resolve
    * deterministically on (ts, pcs, rate) DESC via the order-independent
    * mergeLatest, rather than the reference's executemany arrival order —
    * deterministic replay under any batch interleaving (SURVEY §2.9), and
    * oracle-expressible. Both dims are enum-scale (distinct customers /
    * SKUs), so the broadcast lookups hold at any fact volume; the fact
    * itself shuffles once, on sale_id, for the keyed merge. */
  def upsertFactInternationalSales(intl: DataFrame): Unit =
    upsertFactInternationalSalesBatches(Seq(intl))

  /** N-batch intl load with ONE warehouse commit — bit-equal to N
    * sequential [[upsertFactInternationalSales]] calls, at one load
    * cycle's cost instead of N:
    *  - the fact merge is order-independent keep-latest over every row
    *    the table has ever been fed (mergeLatest's §2.9 contract), so
    *    keep-latest over (existing ∪ batch₁ ∪ … ∪ batchₙ) IS the
    *    sequential fixed point — one keyed shuffle, one write;
    *  - dim ids fold batch-by-batch through the same INSERT OR IGNORE
    *    merge the sequential path persists ([[upsertEnumDimBatches]]),
    *    so batch i+1's unseen keys extend batch i's id range exactly;
    *  - every batch resolves surrogate keys against the FINAL dims —
    *    equivalent because a key's id never changes once assigned.
    * PipelineSpec's idempotence property covers the 1-batch form;
    * Round15OpsSpec pins batched ≡ sequential on a 2-batch overlap. */
  def upsertFactInternationalSalesBatches(batches: Seq[DataFrame]): Unit = {
    require(batches.nonEmpty, "at least one intl batch")
    Par.all(() => upsertIntlDims(batches),
      () => upsertDimDates(batches.map(_.select(col("date_key")))
        .reduce(_ unionByName _), "date_key"))
    mergeFactInternationalSales(batches)
  }

  /** dim_customers and dim_products, folded over `batches` in order, as
    * concurrent Spark jobs (disjoint tables, no shared data dependency). */
  def upsertIntlDims(batches: Seq[DataFrame]): Unit =
    Par.all(
      () => upsertEnumDimBatches(
        batches.map(b => b.filter(col("customer").isNotNull)
          .select(col("customer").as("customer_name"))),
        "customer_name", "customer_id", "dim_customers"),
      () => upsertEnumDimBatches(
        batches.map(b => b.filter(col("sku").isNotNull).select(col("sku"))),
        "sku", "product_id", "dim_products"))

  /** The fact_international_sales merge alone, once dim_customers and
    * dim_products hold every key in `batches` ([[upsertIntlDims]]). */
  def mergeFactInternationalSales(batches: Seq[DataFrame]): Unit = {
    val dimCust = read("dim_customers")
    val dimProd = read("dim_products")
    def resolve(intl: DataFrame): DataFrame = {
      val src =
        if (intl.columns.contains("source_dataset"))
          col("source_dataset").cast("string")
        else lit(null).cast("string")
      intl
        .join(broadcast(dimCust), col("customer") === col("customer_name"))
        .join(broadcast(dimProd), Seq("sku"))
        .filter(col("gross_amt").isNotNull)
        .select(col("sale_id"), col("ts"), col("date_key"),
          col("customer_id"), col("product_id"),
          col("pcs").cast("int").as("pcs"),
          col("rate").cast("double").as("rate"),
          col("gross_amt").cast("double").as("gross_amt"),
          col("currency"), src.as("source_dataset"))
    }
    val incoming = batches.map(resolve).reduce(_ unionByName _)
    val tiebreak = struct(col("pcs"), col("rate"))
    val merged = (if (exists("fact_international_sales"))
      Upsert.mergeLatest(read("fact_international_sales"), incoming,
        Seq("sale_id"), col("ts"), tiebreak)
    else Dedup.keepLatest(incoming, Seq("sale_id"), col("ts"), tiebreak))
      // pinned: repartitionByRange's sampling pass would otherwise
      // recompute the whole merge (existing-fact scan + dim joins +
      // keyed window) a second time for the write.
      .localCheckpoint()
    // NOT date-partitioned on disk: unlike fact_events' ~30-day window,
    // this fact has multi-YEAR daily grain — a partition-per-day tree is
    // the small-files anti-pattern (measured 100× slower to write+list at
    // sf0.1: thousands of dirs each holding KB-sized files). Instead rows
    // range-cluster by date_key into full-size files whose parquet
    // row-group zone maps prune date predicates just as effectively.
    // Output files sized by DATA, not by the session shuffle width
    // (guide §6, the Tables.withMinParallelism rule pointed at output):
    // the range-cluster width is Tables.partitionsFor at
    // TargetPartitionBytes per file, so a fixture-scale fact lands as
    // ONE full file instead of 32 KB-sized shards (32 commit+list+reread
    // round-trips per MERGE), while a real fact still fans out to the
    // cap. Size = exact row count over the ALREADY-PINNED merge (a cheap
    // narrow job — the Catalyst estimate that survives the checkpoint is
    // a post-join/window guess, measured 1000x over actual here) times
    // the schema's default row width.
    val rowBytes = merged.schema.map(_.dataType.defaultSize).sum + 20L
    val nOut = graft.Tables.partitionsFor(spark,
      BigInt(merged.count()) * rowBytes, StarWarehouse.TargetPartitionBytes)
    val clustered = merged.repartitionByRange(nOut, col("date_key"))
      .sortWithinPartitions("date_key")
    Upsert.overwriteViaSwap(spark, clustered,
      path("fact_international_sales"))
  }
}
