package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CleanFns.r6

/** Z-order (Morton) interleaved sort keys — the multi-dimensional data
  * layout used by lakehouse table formats to make range predicates on
  * SEVERAL columns prunable from one physical sort order. Sorting 100 TB by
  * `zkey(a, b)` and writing size-bounded files gives every file a tight
  * min/max envelope in BOTH dimensions, so a scan filtered on either column
  * (or both) skips most files on parquet footer statistics alone — a plain
  * lexicographic sort only ever prunes its leading column.
  *
  * The key is pure per-row bit arithmetic (shift/mask/or — whole-stage
  * codegen folds it into one projection, no UDF). Dimensions are first
  * normalized onto a fixed 2^gridBits grid (the rank/range normalization
  * real OPTIMIZE ZORDER implementations apply), so the key's shape is
  * scale-invariant; the actual clustered write is Spark's standard
  * repartitionByRange + sortWithinPartitions path. `layoutStats`
  * quantifies clustering quality the way a table-format OPTIMIZE report
  * would: per-"file" min/max envelopes in both source dimensions.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of two non-negative integral
    * columns: bit b of `x` lands at position 2b, bit b of `y` at 2b+1.
    * 2·bits ≤ 62 keeps the key in a positive BIGINT. */
  def zkey(x: Column, y: Column, bits: Int = 10): Column = {
    require(bits >= 1 && bits <= 31)
    val xm = x.cast("bigint").bitwiseAND(lit((1L << bits) - 1))
    val ym = y.cast("bigint").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { b =>
      shiftleft(shiftright(xm, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(ym, b).bitwiseAND(lit(1L)),
          2 * b + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Clustering-quality report: normalize both dimensions onto a
    * 2^gridBits grid (integer arithmetic against the broadcast max — the
    * one-row aggregate is the only non-map stage besides the final
    * bucket rollup), bucket rows by the top bits of their z-key (a
    * stand-in for "file" in a size-bounded clustered write), and measure
    * each bucket's min/max envelope in both RAW dimensions. Tight spans
    * in both columns are exactly what parquet row-group statistics need
    * for two-sided pruning; ≤ 2^(2·gridBits − bucketShift) output rows at
    * any scale. */
  def layoutStats(df: DataFrame, xCol: String, yCol: String,
                  gridBits: Int = 8, bucketShift: Int = 8): DataFrame = {
    val side = 1L << gridBits
    val maxs = df.agg(max(col(xCol)).cast("bigint").as("xmax"),
      max(col(yCol)).cast("bigint").as("ymax"))
    df.select(col(xCol).cast("bigint").as("x"),
        col(yCol).cast("bigint").as("y"))
      .crossJoin(broadcast(maxs))
      .withColumn("xg", expr(s"x * ${side}L div (xmax + 1)"))
      .withColumn("yg", expr(s"y * ${side}L div (ymax + 1)"))
      .withColumn("z", zkey(col("xg"), col("yg"), gridBits))
      .groupBy(shiftright(col("z"), bucketShift).as("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        (max(col("x")) - min(col("x"))).as("x_span"),
        (max(col("y")) - min(col("y"))).as("y_span"))
      .orderBy("z_bucket")
  }

  /** Data-skipping effectiveness audit — [[layoutStats]] turned into the
    * number a layout decision is actually made on: for two
    * representative predicates (a two-sided corner box, and a
    * single-sided y-only range), what fraction of "files" does footer
    * min/max pruning skip under (a) the natural x-major lexicographic
    * layout vs (b) the z-ordered layout? The lexicographic key's top
    * bits ARE xg, so its buckets each pin one x-cell and span ALL of y —
    * a y-only predicate prunes nothing; z-order tiles both dimensions,
    * so the same predicate skips ~15/16 of files. Both layouts bucket
    * to the SAME file count for a fair comparison; prunability is pure
    * envelope arithmetic on grid coordinates. */
  def skipStats(df: DataFrame, xCol: String, yCol: String,
                gridBits: Int = 8, bucketShift: Int = 8): DataFrame = {
    val side = 1L << gridBits
    val boxLo = side - side / 16 // top-1/16 corner box in grid space
    val maxs = df.agg(max(col(xCol)).cast("bigint").as("xmax"),
      max(col(yCol)).cast("bigint").as("ymax"))
    val g = df.select(col(xCol).cast("bigint").as("x"),
        col(yCol).cast("bigint").as("y"))
      .crossJoin(broadcast(maxs))
      .withColumn("xg", expr(s"x * ${side}L div (xmax + 1)"))
      .withColumn("yg", expr(s"y * ${side}L div (ymax + 1)"))
      .withColumn("z", zkey(col("xg"), col("yg"), gridBits))
      .localCheckpoint() // both layout roll-ups read the same grid pass
    def envelopes(bucket: Column, layout: String): DataFrame =
      g.groupBy(bucket.as("bucket"))
        .agg(max(col("xg")).as("x_hi"), max(col("yg")).as("y_hi"))
        .select(lit(layout).as("layout"),
          (col("x_hi") < boxLo || col("y_hi") < boxLo).cast("long")
            .as("prune_box"),
          (col("y_hi") < boxLo).cast("long").as("prune_y"))
    val both = envelopes(col("xg"), "natural_x")
      .unionAll(envelopes(shiftright(col("z"), bucketShift), "zorder"))
    both.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("prune_box")).as("skip_corner_box"),
        sum(col("prune_y")).as("skip_y_only"))
      .select(col("layout"), col("n_files"),
        col("skip_corner_box"), col("skip_y_only"),
        r6(col("skip_corner_box").cast("double") /
          col("n_files").cast("double")).as("skip_frac_box"),
        r6(col("skip_y_only").cast("double") /
          col("n_files").cast("double")).as("skip_frac_y"))
      .orderBy("layout")
  }

  /** Small-file compaction planner — the OPTIMIZE bin-packing pass a
    * lakehouse table needs once streaming/incremental writes have
    * littered it: per source partition, pack "files" (simulated here as
    * 50-doc byte censuses — deterministic on any engine) into merge
    * groups of ~`target` bytes by the cumulative next-fit rule
    * bin = ⌊exclusive-prefix-bytes / target⌋ over the size-descending
    * order. Oversized files naturally land alone; the report prices the
    * rewrite (groups, bytes, fill ratios). One aggregate to the file
    * census, one per-source window — file counts, not data, at any
    * scale. */
  def compactionPlan(docs: DataFrame, target: Long = 100000L): DataFrame = {
    val files = docs
      .groupBy(col("source"), expr("doc_id DIV 50").as("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("bytes").desc, col("file_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    files
      .withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("bin",
        ((col("cum") - col("bytes")) / target).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
        sum(col("n_docs")).as("n_docs"))
      .select(col("source"), col("bin"), col("n_files"), col("n_docs"),
        col("bytes"),
        r6(col("bytes").cast("double") / lit(target.toDouble))
          .as("fill_ratio"))
      .orderBy("source", "bin")
  }
}
