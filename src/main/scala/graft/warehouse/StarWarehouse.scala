package graft.warehouse

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
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
  * [[load]] is the one load composition. Stage 1 writes every dim
  * concurrently through [[graft.Par]], with ONE dim_dates over all the
  * dates the load brings; stage 2 the two fact merges, which read their
  * dims back from stage 1. Each step writes exactly one table.
  *
  * The reference commits its SQLite load in one transaction; here each
  * load is one generation commit (Delta Lake's log-pointer commit,
  * Armbrust et al., VLDB 2020, cut to one pointer per root). This class is
  * the only code that knows the on-disk format. `root/_CURRENT` holds one
  * line `v<n>/<table>` per table. A load writes each table it changes once,
  * to `root/v<n>/<table>` with `n` one past the newest generation named
  * (no `_` or `.` prefix, which Spark's listing hides), so it never writes
  * a path it reads. Beside each table's part files it records the written
  * frame's schema as `_schema.json` (a `_` name, so hidden from the
  * listing); every read passes that schema, so no read starts a
  * schema-inference job, and a table without one fails naming the table
  * and the path. It then publishes them all by atomically renaming a
  * new pointer, staged as `v<n>/_CURRENT`, onto `root/_CURRENT` (POSIX
  * rename: the root is a local directory). Afterwards, committed or
  * failed, it deletes every generation `_CURRENT` does not name: the
  * superseded tables, or its own `v<n>`. It deletes them before it starts
  * as well, so the `v<n>` a killed load left cannot block the next load.
  * One writer per root: two loads at once would write one generation, and
  * each would delete the other's.
  */
class StarWarehouse(spark: SparkSession, root: String) {
  import StarWarehouse._

  private val pointer = Paths.get(root, Pointer)

  /** Each table's committed generation; empty before the first commit. */
  private def committed(): Map[String, Int] =
    if (!Files.isRegularFile(pointer)) Map.empty
    else Files.readAllLines(pointer).asScala.map { line =>
      val Array(gen, table) = line.split("/", 2)
      table -> gen.stripPrefix("v").toInt
    }.toMap

  private def dir(gen: Int, table: String): String = s"$root/v$gen/$table"

  /** Read with the schema the write recorded: no inference job, and the
    * `event_date` partition key comes back as the contract's 'yyyy-MM-dd'
    * string (warehouse_star.sql:34), which inference would read as DATE. */
  private def readAt(gen: Int, table: String): DataFrame = {
    val path = dir(gen, table)
    val recorded = Paths.get(path, SchemaFile)
    if (!Files.isRegularFile(recorded))
      throw new IllegalStateException(
        s"warehouse table $table has no recorded schema: $recorded is missing")
    val schema = DataType.fromJson(Files.readString(recorded))
      .asInstanceOf[StructType]
    spark.read.schema(schema).parquet(path)
  }

  /** The committed `table`. */
  def read(table: String): DataFrame = readAt(committed()(table), table)

  def tableExists(table: String): Boolean = committed().contains(table)

  /** One load in progress: the generations committed when it began, and
    * the tables its steps have written since, from [[graft.Par]] threads
    * (hence the concurrent set), under its own generation `gen`. */
  private final class Load(base: Map[String, Int]) {
    val gen: Int = base.values.maxOption.getOrElse(0) + 1
    private val written = ConcurrentHashMap.newKeySet[String]()

    /** `table` as written by this load, else as committed, else None. */
    def read(table: String): Option[DataFrame] =
      if (written.contains(table)) Some(readAt(gen, table))
      else base.get(table).map(readAt(_, table))

    def write(table: String, df: DataFrame,
              partitionBy: Seq[String] = Nil): Unit = {
      val path = dir(gen, table)
      // an empty partitionBy is not a no-op: it still records a (blank)
      // partition-columns option on the write
      (if (partitionBy.isEmpty) df.write
       else df.write.partitionBy(partitionBy: _*)).parquet(path)
      Files.writeString(Paths.get(path, SchemaFile), df.schema.json,
        StandardOpenOption.CREATE_NEW)
      written.add(table)
    }

    def publish(): Unit = {
      val next = (base ++ written.asScala.map(_ -> gen)).toSeq.sorted
        .map { case (table, g) => s"v$g/$table" }
      val staged = Paths.get(root, s"v$gen", Pointer)
      Files.write(staged, next.asJava, StandardOpenOption.CREATE_NEW)
      Files.move(staged, pointer, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def commit(body: Load => Unit): Unit = {
    collectGarbage()
    val load = new Load(committed())
    try { body(load); load.publish() }
    finally collectGarbage()
  }

  private def collectGarbage(): Unit = {
    val live = committed().map { case (table, gen) => s"v$gen/$table" }.toSet
    def list(f: File) = Option(f.listFiles).toSeq.flatten
    for (gen <- list(new File(root)) if Generation.matches(gen.getName)) {
      val tables = list(gen)
      val dead = tables.filterNot(t => live(s"${gen.getName}/${t.getName}"))
      if (dead.length == tables.length) FileUtil.fullyDelete(gen)
      else dead.foreach(FileUtil.fullyDelete)
    }
  }

  /** One star load, one commit: the events batch `cleaned` (dim_users,
    * dim_event_types, fact_events) and the intl batches (dim_customers,
    * dim_products, fact_international_sales), with dim_dates over all of
    * their dates. Readers see all of it or none of it. */
  def load(cleaned: Option[DataFrame], intl: Seq[DataFrame] = Nil): Unit =
    commit { l =>
      val events = cleaned.toSeq
      val dateKeys = (events.map(_.select(col("event_date").as("date_key")))
        ++ intl.map(_.select(col("date_key")))).reduce(_ unionByName _)
      Par.all(
        () => events.foreach(upsertDimUsers(l, _)),
        () => upsertEnumDim(l, events.map(_.select(col("event"))),
          "event", "event_type_id", "dim_event_types"),
        () => upsertDimDates(l, dateKeys),
        () => upsertEnumDim(l, intl.map(_.filter(col("customer").isNotNull)
          .select(col("customer").as("customer_name"))),
          "customer_name", "customer_id", "dim_customers"),
        () => upsertEnumDim(l, intl.map(_.filter(col("sku").isNotNull)
          .select(col("sku"))), "sku", "product_id", "dim_products"))
      Par.all(
        () => events.foreach(mergeFactEvents(l, _)),
        () => if (intl.nonEmpty) mergeFactInternationalSales(l, intl))
    }

  /** Replace one table with `f` of its committed rows (None before its
    * first commit), as one commit: the keyed upsert sink's step. */
  def replace(table: String)(f: Option[DataFrame] => DataFrame): Unit =
    commit(l => l.write(table, f(l.read(table))))

  /** dim_users from the cleaned (joined) events — the reference feeds the
    * joined frame, so users with no events never reach dim_users
    * (run_pipeline.py:65-70; SURVEY.md §3.1.4). F7: blank keys dropped. */
  private def upsertDimUsers(l: Load, cleaned: DataFrame): Unit = {
    val incoming = cleaned
      .filter(col("user_id").isNotNull && trim(col("user_id")) =!= "")
      .select(col("user_id"),
        defaultFill(col("country")).as("country"),
        defaultFill(col("signup_source")).as("signup_source"))
    val hash = Dedup.rowHash(incoming)
    val merged = l.read("dim_users").fold(
      Dedup.keepLatest(incoming, Seq("user_id"), lit(1), hash))(
      Upsert.upsert(_, incoming, Seq("user_id"), lit(1), hash))
    l.write("dim_users", merged)
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

  /** Enum dims with deterministic surrogate keys (D2); no batches, no
    * write. Folds N batches through the INSERT OR IGNORE id sequence IN
    * ORDER (batch i+1's unseen keys extend the id range batch i finished
    * at — identical ids to N one-batch loads, because each fold step is
    * the same merge a one-batch load persists) but pays ONE write instead
    * of N. The folded plan re-evaluates earlier batches' key sets a few
    * times (anti-join + max-id broadcast per step) — enum dims are
    * distinct-key scale, so re-evaluating a tiny aggregate beats
    * re-reading and re-writing the table N−1 times on any storage. */
  private def upsertEnumDim(l: Load, batches: Seq[DataFrame],
                            naturalKey: String, idCol: String,
                            table: String): Unit = if (batches.nonEmpty) {
    val merged = batches.foldLeft(l.read(table)) { (acc, b) =>
      Some(mergeEnumDim(acc, b, naturalKey, idCol))
    }.get
    // Enum dims are broadcast-scale by construction: one output file is
    // the right layout at any fact volume (32 shuffle-partition shards of
    // a few-hundred-row dim are pure file-creation + listing overhead).
    l.write(table, merged.coalesce(1))
  }

  /** dim_dates (A8), INSERT OR IGNORE by date_key. */
  private def upsertDimDates(l: Load, dateKeys: DataFrame): Unit = {
    val incoming = Upsert.dimDates(dateKeys, "date_key")
    val merged = l.read("dim_dates").fold(incoming)(existing =>
      existing.unionByName(
        incoming.join(existing, Seq("date_key"), "left_anti")))
    // date grain: one row per day — single-file at any fact volume.
    l.write("dim_dates", merged.coalesce(1))
  }

  /** fact_events upsert (D1, load.py:251-297), once dim_event_types holds
    * every event name in `cleaned`: resolves event_type_id via broadcast
    * join against the enum dim (J4), keyed on event_id with latest-(ts,
    * row-hash)-wins via the order-independent mergeLatest — replaying
    * batches in any interleaving converges to the same fact table (§2.9;
    * PropertySpec). Partitioned by event_date. */
  private def mergeFactEvents(l: Load, cleaned: DataFrame): Unit = {
    val dimTypes = l.read("dim_event_types").get
    val incoming = cleaned
      .select(col("event_id"), col("ts"), col("user_id"), col("event"),
        col("amount"), col("event_date"), col("event_hour"))
    // The merge runs in NATURAL space (event name, not event_type_id):
    // the tiebreak row-hash must not see the surrogate id, whose value
    // depends on dim insertion order — hashing it would make equal-ts
    // duplicate resolution depend on batch interleaving and break the
    // §2.9 replay invariant. The dim joins are broadcast (enum-scale).
    val merged = l.read("fact_events").fold(
      Dedup.keepLatest(incoming, Seq("event_id"), col("ts"),
        Dedup.rowHash(incoming))) { existing =>
      val existingNat = existing
        .join(broadcast(dimTypes), Seq("event_type_id"))
        .select(incoming.columns.map(col).toSeq: _*)
      Upsert.mergeLatest(existingNat, incoming, Seq("event_id"),
        col("ts"), Dedup.rowHash(incoming))
    }
    val resolved = merged.join(broadcast(dimTypes), Seq("event"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type_id"), col("amount"), col("event_date"),
        col("event_hour"))
    l.write("fact_events", resolved, Seq("event_date"))
  }

  /** fact_international_sales upsert (S6/D1; load.py:141-219,
    * warehouse_star.sql:54-69), once stage 1 has loaded dim_dates and the
    * customer/product enum dims (INSERT OR IGNORE, sorted insertion order
    * — load.py:108-131): resolve surrogate keys through broadcast lookups
    * (the c_map/p_map dict joins, load.py:166-172), convert types, skip
    * rows whose dim lookup or gross_amt is null (load.py:184-186), and
    * MERGE keyed on sale_id (ON CONFLICT(sale_id) DO UPDATE,
    * load.py:199-217). Range-clustered by date_key on disk — the analog
    * of idx_intl_sales_date (warehouse_star.sql:78).
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
    * itself shuffles once, on sale_id, for the keyed merge.
    *
    * N batches load as one commit, bit-equal to N loads of one batch each:
    *  - the fact merge is order-independent keep-latest over every row
    *    the table has ever been fed (mergeLatest's §2.9 contract), so
    *    keep-latest over (existing ∪ batch₁ ∪ … ∪ batchₙ) IS the
    *    sequential fixed point — one keyed shuffle, one write;
    *  - dim ids fold batch-by-batch through the same INSERT OR IGNORE
    *    merge a one-batch load persists ([[upsertEnumDim]]),
    *    so batch i+1's unseen keys extend batch i's id range exactly;
    *  - every batch resolves surrogate keys against the FINAL dims —
    *    equivalent because a key's id never changes once assigned.
    * Round15OpsSpec pins batched ≡ sequential on a 2-batch overlap. */
  private def mergeFactInternationalSales(l: Load,
                                          batches: Seq[DataFrame]): Unit = {
    val dimCust = l.read("dim_customers").get
    val dimProd = l.read("dim_products").get
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
    val merged = l.read("fact_international_sales").fold(
      Dedup.keepLatest(incoming, Seq("sale_id"), col("ts"), tiebreak))(
      Upsert.mergeLatest(_, incoming, Seq("sale_id"), col("ts"), tiebreak))
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
      BigInt(merged.count()) * rowBytes, TargetPartitionBytes)
    val clustered = merged.repartitionByRange(nOut, col("date_key"))
      .sortWithinPartitions("date_key")
    l.write("fact_international_sales", clustered)
  }
}

object StarWarehouse {
  /** Target bytes per output file of the range-clustered intl fact. */
  private[warehouse] val TargetPartitionBytes: Long = 128L * 1024 * 1024

  private val Pointer = "_CURRENT"
  private val SchemaFile = "_schema.json"
  private val Generation = "v\\d+".r
}
