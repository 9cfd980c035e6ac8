package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CleanFns.r6

/** Hilbert-curve sort keys — the data-clustering alternative to
  * [[ZOrder]]'s Morton interleave that lakehouse OPTIMIZE implementations
  * (Delta, Iceberg) offer because the Hilbert walk never takes the long
  * diagonal jumps Morton takes at power-of-two boundaries: consecutive
  * curve positions are always grid neighbors, so size-bounded "files" cut
  * from the curve get strictly tighter per-file min/max envelopes — and
  * tighter envelopes are exactly what parquet footer pruning converts
  * into skipped IO at 100 TB.
  *
  * The xy→d walk is the standard bit-level algorithm (per-level quadrant
  * code + rotate/reflect), unrolled here into `bits` chained projections
  * of plain integer CASE arithmetic — whole-stage codegen fuses the
  * chain into one pass, no UDF, no loop state. The quadrant code
  * (3·rx)⊕ry is written as an explicit 4-way CASE so the oracle SQL can
  * carry the identical expression without relying on engine bitwise-xor
  * semantics.
  */
object Hilbert {

  /** Append Hilbert index `out` for grid coords `xg`,`yg` ∈ [0, 2^bits).
    * One withColumn layer per curve level: level s halves the grid,
    * accumulates s²·quadrant, then rotates the frame for the next level
    * (the Wikipedia xy2d walk, column-ized). */
  def withHilbert(df: DataFrame, xg: String, yg: String, bits: Int,
                  out: String): DataFrame = {
    require(bits >= 1 && bits <= 30)
    var cur = df.withColumn("hx", col(xg).cast("bigint"))
      .withColumn("hy", col(yg).cast("bigint"))
      .withColumn("hd", lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(col("hx").bitwiseAND(lit(s)) > 0L, 1L).otherwise(0L)
      val ry = when(col("hy").bitwiseAND(lit(s)) > 0L, 1L).otherwise(0L)
      // quadrant code (3·rx)⊕ry over {0,1}²: 00→0, 01→1, 11→2, 10→3
      val quad = when(rx === 0L && ry === 0L, 0L)
        .when(rx === 0L && ry === 1L, 1L)
        .when(rx === 1L && ry === 1L, 2L)
        .otherwise(3L)
      // rotate/reflect for the next level: ry=0 swaps axes, rx=1 also
      // reflects both within the level-s cell
      val nx = when(ry === 1L, col("hx"))
        .otherwise(when(rx === 1L, lit(s - 1) - col("hy"))
          .otherwise(col("hy")))
      val ny = when(ry === 1L, col("hy"))
        .otherwise(when(rx === 1L, lit(s - 1) - col("hx"))
          .otherwise(col("hx")))
      cur = cur
        .withColumn("hd", col("hd") + lit(s) * lit(s) * quad)
        .withColumn("hx_n", nx).withColumn("hy_n", ny)
        .drop("hx", "hy")
        .withColumnRenamed("hx_n", "hx").withColumnRenamed("hy_n", "hy")
    }
    cur.withColumnRenamed("hd", out).drop("hx", "hy")
  }

  /** Three-way data-skipping shoot-out — [[ZOrder.skipStats]]'s audit
    * with the Hilbert layout as a third arm and SIZE-BOUNDED file cuts,
    * the way a real OPTIMIZE writer cuts them. Cutting files at
    * key-range boundaries aligned to the curve's power-of-two tiles
    * would make Morton and Hilbert tie by construction (every aligned
    * 2^k-position block of EITHER curve is the same square/rectangular
    * tile); real writers cut by bytes, and that is exactly where the
    * curves separate — a size cut that lands mid-tile gives the Morton
    * file a diagonal jump (envelope = the union of two far-apart
    * quadrants) while the Hilbert file keeps grid-adjacent neighbors.
    * Files are cut every `rowsPerFile` CUMULATIVE rows walking the
    * curve, at grid-cell granularity (a straddling cell goes to the
    * file its first row lands in — a real writer would split the cell
    * across both, whose envelopes only grow; the reported skip rates
    * are therefore the optimistic bound for every layout equally).
    * Same grid, same file count, same two predicates (corner box,
    * y-only range) across all three arms.
    *
    * Scale shape: one row-level grid projection (the Hilbert chain is
    * codegen'd per-row integer math) into the ≤ 4^gridBits cell census;
    * the three layout walks are windows over that bounded frame. At
    * cluster scale the equivalent write is repartitionByRange(curve
    * key) + size-bounded files — the audit never touches row
    * granularity after the census. */
  def skipStats3(df: DataFrame, xCol: String, yCol: String,
                 gridBits: Int = 8, rowsPerFile: Long = 2048L): DataFrame = {
    // structural scale guard: the three layout walks are windows over
    // the grid-cell census, bounded by 4^gridBits rows REGARDLESS of
    // corpus size — but only while gridBits stays small. 8 bits per
    // axis = 65,536 cells, comfortably one task; this require keeps the
    // bound a property of the operator (not a lint exemption), so a
    // caller cannot silently turn the census corpus-sized.
    require(gridBits >= 1 && gridBits <= 8,
      s"gridBits=$gridBits: census bound 4^gridBits must stay " +
        "single-task sized (<= 65,536 cells); raise deliberately only " +
        "with a distributed walk")
    val side = 1L << gridBits
    val boxLo = side - side / 16
    val maxs = df.agg(max(col(xCol)).cast("bigint").as("xmax"),
      max(col(yCol)).cast("bigint").as("ymax"))
    val g0 = df.select(col(xCol).cast("bigint").as("x"),
        col(yCol).cast("bigint").as("y"))
      .crossJoin(broadcast(maxs))
      .withColumn("xg", expr(s"x * ${side}L div (xmax + 1)"))
      .withColumn("yg", expr(s"y * ${side}L div (ymax + 1)"))
      .groupBy("xg", "yg").agg(count(lit(1)).as("cnt"))
      .withColumn("z", ZOrder.zkey(col("xg"), col("yg"), gridBits))
    // all three layout walks read this cell census; persist (not
    // localCheckpoint) keeps the groupBy VISIBLE in the logical plan,
    // so the boundedness lint proves the census-bounded windows
    // structurally instead of via a growth exemption
    val g = withHilbert(g0, "xg", "yg", gridBits, "h").persist()
    def arm(key: Column, layout: String): DataFrame = {
      val wPrev = Window.orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cum", coalesce(sum(col("cnt")).over(wPrev), lit(0L)))
        .withColumn("f", expr(s"cum div ${rowsPerFile}L"))
        .groupBy("f")
        .agg(max(col("xg")).as("x_hi"), max(col("yg")).as("y_hi"),
          (max(col("xg")) - min(col("xg"))).as("x_span"),
          (max(col("yg")) - min(col("yg"))).as("y_span"))
        .select(lit(layout).as("layout"),
          (col("x_hi") < boxLo || col("y_hi") < boxLo).cast("long")
            .as("prune_box"),
          (col("y_hi") < boxLo).cast("long").as("prune_y"),
          col("x_span"), col("y_span"))
    }
    val all = arm(col("xg") * lit(side) + col("yg"), "natural_x")
      .unionAll(arm(col("z"), "zorder"))
      .unionAll(arm(col("h"), "hilbert"))
    all.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("prune_box")).as("skip_corner_box"),
        sum(col("prune_y")).as("skip_y_only"),
        sum(col("x_span") + col("y_span")).as("sum_envelope_span"))
      .select(col("layout"), col("n_files"),
        col("skip_corner_box"), col("skip_y_only"),
        r6(col("skip_corner_box").cast("double") /
          col("n_files").cast("double")).as("skip_frac_box"),
        r6(col("skip_y_only").cast("double") /
          col("n_files").cast("double")).as("skip_frac_y"),
        col("sum_envelope_span"))
      .orderBy("layout")
  }
}
