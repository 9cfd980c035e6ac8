package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType,
  TimestampNTZType, TimestampType}

/** Loaders for the driver fixtures (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * All reads are plain parquet scans: Catalyst handles column pruning and
  * predicate pushdown, so callers should `.select`/`.filter` freely and let
  * the scan narrow itself. At cluster scale the same API would point at a
  * date-partitioned table root instead of a single file — the query code
  * does not change.
  *
  * Every read is given its schema. [[table]] infers each file's schema
  * once per session and modification time (a [[graft.Shared]] entry keyed
  * `schema@<path>@<mtime>`), so later reads of the file start no
  * inference job, and a file regenerated at the same path is probed again.
  * The probe is also the one place that writes a session setting for a
  * fixture read: `spark.sql.legacy.parquet.nanosAsLong`, set before the
  * inference, which needs it to type a TIMESTAMP(NANOS) `events.ts` as a
  * long instead of failing (see [[events]]).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The parquet schema of `path`, inferred once per session and mtime. */
  private def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    Shared(spark, s"schema@$path@$mtime") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(path).schema
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which vanilla
    * Spark 4 rejects with [PARQUET_TYPE_ILLEGAL]) and plain TIMESTAMP(MICROS),
    * depending on the fixture generation. Adapt to whichever arrives: with
    * the nanosAsLong conf the schema probe sets, a NANOS column loads as
    * LongType — truncate it to micros with integer DIV (never a double
    * divide, ns epochs exceed 2^53); a MICROS column loads as a real
    * timestamp and passes through untouched. DuckDB oracles mirror both
    * with CAST(ts AS TIMESTAMP). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    withEventTs(raw, raw.schema("ts").dataType)
  }

  /** The one `events.ts` adapter, for batch and streaming reads alike:
    * `tsType` is the dtype the parquet schema gave `ts`. */
  private[graft] def withEventTs(raw: DataFrame, tsType: DataType): DataFrame =
    tsType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // un-annotated parquet micros infer as NTZ; normalize to the
        // session-zone TimestampType every downstream consumer
        // (unix_micros, watermarks) expects — value-identical under the
        // UTC session zone all entry points set
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType => raw
      case other =>
        // a THIRD fixture encoding must fail loudly at the loader, not as
        // an obscure downstream cast error (the silent-adaptation pattern
        // behind the round-4 cliff)
        throw new IllegalStateException(
          s"events.ts arrived as unsupported dtype $other " +
            "(expected long nanos, TIMESTAMP_NTZ micros, or TIMESTAMP); " +
            "teach Tables.events the new fixture encoding explicitly")
    }

  /** Floor on scan parallelism for compute-heavy corpora. A real corpus
    * arrives as thousands of splits, so this guard is a NO-OP at cluster
    * scale (splits ≥ cores ⇒ the frame passes through untouched — no
    * corpus shuffle is ever added on the scale path). The test fixture,
    * however, is ONE parquet file with ONE row group: Spark cannot split
    * a row group, so every downstream tokenizer / hasher / vector map
    * would run in a single task at any core count. When, and only when,
    * the scan yields fewer splits than the configured partition count,
    * a one-time redistribution of the (small, by construction — that is
    * why it arrived as one split) frame restores parallelism.
    *
    * The floor is SIZE-ADAPTIVE, not a constant: the target is
    * ceil(scanBytes / MinSplitBytes), capped at the session shuffle
    * partition count — i.e. never create partitions carrying less than
    * ~MinSplitBytes of input. A constant floor of numShufflePartitions
    * spread a sub-MB fixture over 32 partitions, and every downstream
    * stage of every consumer then ran 32+ near-empty tasks whose fixed
    * cost (launch, broadcast fetch, shuffle bookkeeping) dwarfed the
    * data; measured on the embedding family this halved wall time and
    * cut summed task time ~15x at local[32] while leaving cluster-scale
    * behaviour untouched (big scans hit the cap or the no-op path). */
  private[graft] def withMinParallelism(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = partitionsFor(df.sparkSession, bytes, MinSplitBytes)
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Input bytes per partition below which [[withMinParallelism]] stops
    * splitting. The scan's `sizeInBytes` is the COMPRESSED on-disk size,
    * while documents/embeddings consumers are compute-bound per
    * decompressed row: a densely compressed fixture can land under this
    * target and get fewer partitions than its narrow maps want, so
    * re-measure this value if a compute-heavy fixture regresses. */
  private val MinSplitBytes: Long = 128L * 1024

  /** The engine's one output-sizing rule: ceil(bytes / targetBytes)
    * partitions, capped at the session shuffle partition count and
    * floored at 1. */
  private[graft] def partitionsFor(spark: SparkSession, bytes: BigInt,
                                   targetBytes: Long): Int =
    ((bytes + targetBytes - 1) / targetBytes)
      .min(BigInt(spark.sessionState.conf.numShufflePartitions))
      .max(BigInt(1)).toInt

  /** `documents`/`embeddings` go through the parallelism floor: their
    * consumers run the engine's expensive narrow maps (tokenize, md5
    * sketches, per-dimension vector arithmetic) where scan-split
    * parallelism is the whole ballgame. */
  def documents(s: SparkSession, d: String): DataFrame =
    withMinParallelism(table(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    withMinParallelism(table(s, d, "embeddings"))
}
