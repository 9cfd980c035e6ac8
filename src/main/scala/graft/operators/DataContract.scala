package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.CleanFns.r6

/** Data-contract validation — the expectation suite a warehouse runs
  * before publishing a snapshot: referential integrity (anti-joins, which
  * AQE plans as broadcast or shuffle semi/anti joins by side size),
  * key uniqueness (count vs distinct — one aggregate, no self-join), and
  * range/null scans (map-side predicates). Each check collapses to one
  * row before the union, so the report costs one pass per table
  * regardless of scale. Reference analog: the loader's validation stage
  * (validate.py) checks nulls and types row-by-row in Python; here the
  * checks are declarative aggregates the optimizer can fuse.
  */
object DataContract {

  private def row(name: String, viol: DataFrame,
                  total: DataFrame): DataFrame =
    viol.crossJoin(broadcast(total))
      .select(lit(name).as("check_name"), col("n_violations"),
        col("n_checked"))

  def report(orders: DataFrame, customer: DataFrame, lineitem: DataFrame,
             events: DataFrame): DataFrame = {
    val fkOrders = row("orders_customer_fk",
      orders.join(customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations")),
      orders.agg(count(lit(1)).as("n_checked")))
    val fkLineitem = row("lineitem_orders_fk",
      lineitem.join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations")),
      lineitem.agg(count(lit(1)).as("n_checked")))
    val dupEvents = events.agg(
      (count(col("event_id")) - countDistinct(col("event_id")))
        .as("n_violations"),
      count(lit(1)).as("n_checked"))
      .select(lit("events_id_unique").as("check_name"),
        col("n_violations"), col("n_checked"))
    val negValues = row("events_value_nonnegative",
      events.filter(col("value") < 0)
        .agg(count(lit(1)).as("n_violations")),
      events.filter(col("value").isNotNull)
        .agg(count(lit(1)).as("n_checked")))
    val nullUsers = row("events_user_present",
      events.filter(col("user_id").isNull)
        .agg(count(lit(1)).as("n_violations")),
      events.agg(count(lit(1)).as("n_checked")))
    fkOrders.unionAll(fkLineitem).unionAll(dupEvents)
      .unionAll(negValues).unionAll(nullUsers)
      .orderBy("check_name")
  }

  /** Merkle-style table digest: per-hash-bucket row count + XOR of
    * portable row hashes — the anti-entropy primitive two replicas (or a
    * table before/after a migration, or Spark vs another engine) compare
    * to prove content equality WITHOUT moving data: equal digests ⇒ equal
    * content per bucket with hash-collision confidence; a divergent
    * bucket localizes the diff to 1/`buckets` of the keyspace for
    * row-level investigation.
    *
    * XOR specifically: commutative, associative, self-inverse — the
    * aggregate is order- and partition-independent (replay- and
    * speculation-safe) and cannot overflow. The row hash is the portable
    * md5-prefix h60 over a canonical '|'-joined string form (callers pass
    * pre-formatted columns — dates/doubles must be rendered
    * engine-portably), so ANY engine that can md5 recomputes the digest
    * bit-for-bit — cross-engine table equality as one `buckets`-row
    * compare. One scan, one `buckets`-wide aggregate with map-side
    * partials; nothing else moves. Reference analog: the row-count
    * reconciliation the loader logs after each upsert (load.py) — here
    * strengthened to content equality, not just cardinality. */
  def tableDigest(df: DataFrame, keyCols: Seq[String],
                  canonCols: Seq[org.apache.spark.sql.Column],
                  buckets: Int = 64): DataFrame = {
    import graft.ext.TextFns.portableH60
    val key = concat_ws("|", keyCols.map(col): _*)
    val rowStr = concat_ws("|", canonCols: _*)
    df.select(pmod(portableH60(key), lit(buckets.toLong)).as("bucket"),
        portableH60(rowStr).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("digest"))
      .orderBy("bucket")
  }

  /** Row-level table reconciliation — the step AFTER [[tableDigest]]
    * localizes a divergent bucket: name exactly which keys differ between
    * two replicas (or a table before/after a migration) and how —
    * `missing_right` (present only on the left), `missing_left` (present
    * only on the right), `changed` (both sides, content hash differs).
    * The same canonical '|'-joined row rendering as the digest, so a row
    * the digest calls equal is equal here too.
    *
    * Scale shape: both sides project to narrow (key, h60) rows before the
    * full-outer hash join on key — payload never moves, and the matched-
    * equal mass (in any sane replica, almost everything) is filtered out
    * immediately after the join, so only the drift survives downstream.
    * At 100 TB, bucket both sides on the key (BucketingSpec's zero-
    * shuffle join shape) or run per-digest-bucket after tableDigest has
    * narrowed the keyspace 1/`buckets`.
    *
    * Contract: `keyCols` must be unique per side (the same contract as
    * any keyed MERGE); duplicate keys would fan the full-outer join into
    * per-key pair products. The testdata lineitem fixture's
    * (l_orderkey, l_linenumber) is NOT unique — diff orders-like tables
    * on their true key, or pre-aggregate to one row per key first.
    * `canonCols` must be null-free renderings (coalesce upstream, same
    * as [[tableDigest]]): Spark's concat_ws SKIPS nulls while SQL `||`
    * propagates them, so a nullable canonical column would silently
    * diverge from any engine that concatenates strictly. */
  def tableDiff(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                canonCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import graft.ext.TextFns.portableH60
    def proj(df: DataFrame, hName: String) =
      df.select(concat_ws("|", keyCols.map(col): _*).as("row_key"),
        portableH60(concat_ws("|", canonCols: _*)).as(hName))
    proj(left, "h_l").join(proj(right, "h_r"), Seq("row_key"), "full_outer")
      .filter(col("h_l").isNull || col("h_r").isNull ||
        col("h_l") =!= col("h_r"))
      .select(col("row_key"),
        when(col("h_r").isNull, "missing_right")
          .when(col("h_l").isNull, "missing_left")
          .otherwise("changed").as("diff_type"))
      .orderBy("row_key")
  }

  /** Inclusion-dependency (foreign-key) discovery — the profiling pass
    * that tells a warehouse which column pairs actually join before
    * anyone declares a constraint or a join plan relies on one: for each
    * candidate (child.col ⊆ parent.col?), report both distinct
    * cardinalities, how many child values the parent covers, and the
    * containment ratio (=1 ⇒ the FK holds). Each candidate reduces both
    * sides to their DISTINCT key sets first (key-cardinality, not
    * row-cardinality — at 100 TB the semi-join probes shuffled key sets,
    * never fact rows), so the whole report costs one distinct + one
    * semi-join per candidate and collapses to one row before the union.
    * Complements [[report]]: report ENFORCES the declared contracts,
    * this DISCOVERS which contracts are declarable. */
  def inclusionDeps(cands: Seq[(String, DataFrame, String,
                                String, DataFrame, String)]): DataFrame = {
    // ONE tagged union instead of |cands| independent subtrees: the old
    // per-candidate shape (child distinct + parent distinct + semi-join +
    // three single-row aggregates + two broadcast cross joins) planned as
    // ~8 sequential AQE stage-jobs per candidate — 79 jobs for the
    // 10-candidate profiling query, almost all fixed job latency. Here
    // every candidate contributes its child and parent key scans as
    // (cid, v, c, p) rows; one hash exchange on (cid, v) collapses to the
    // distinct key sets with side flags (map-side partial aggregation
    // does the dedup before the shuffle), and a second, |cands|-row
    // aggregate computes all three counts at once. Counts are identical
    // integers to the old form: n_child = keys with the child flag,
    // n_parent = keys with the parent flag, n_contained = keys with both
    // (exactly the semi-join cardinality over distinct sets).
    val spark = cands.head._2.sparkSession
    val tagged = cands.zipWithIndex.map {
      case ((_, cdf, cc, _, pdf, pc), id) =>
        cdf.select(col(cc).cast("bigint").as("v"))
          .filter(col("v").isNotNull)
          .select(lit(id).as("cid"), col("v"), lit(1).as("c"),
            lit(0).as("p"))
          .unionAll(pdf.select(col(pc).cast("bigint").as("v"))
            .filter(col("v").isNotNull)
            .select(lit(id).as("cid"), col("v"), lit(0).as("c"),
              lit(1).as("p")))
    }.reduce(_ unionAll _)
    val counts = tagged.groupBy(col("cid"), col("v"))
      .agg(max(col("c")).as("c"), max(col("p")).as("p"))
      .groupBy(col("cid"))
      .agg(sum(col("c")).as("n_child_distinct"),
        sum(col("p")).as("n_parent_distinct"),
        sum(col("c") * col("p")).as("n_contained"))
    // a candidate whose key scans are all-null yields no group — the
    // left join restores its report row with the same zero counts the
    // old per-candidate global aggregates produced
    import scala.jdk.CollectionConverters._
    val names = spark.createDataFrame(
      cands.zipWithIndex.map { case ((ct, _, cc, pt, _, pc), id) =>
        org.apache.spark.sql.Row(id, ct, cc, pt, pc)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("child_table",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("child_col",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("parent_table",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("parent_col",
          org.apache.spark.sql.types.StringType, nullable = false))))
    names.join(broadcast(counts), Seq("cid"), "left")
      .select(col("child_table"), col("child_col"),
        col("parent_table"), col("parent_col"),
        coalesce(col("n_child_distinct"), lit(0L)).as("n_child_distinct"),
        coalesce(col("n_parent_distinct"), lit(0L))
          .as("n_parent_distinct"),
        coalesce(col("n_contained"), lit(0L)).as("n_contained"))
      .select(col("child_table"), col("child_col"),
        col("parent_table"), col("parent_col"),
        col("n_child_distinct"), col("n_parent_distinct"),
        col("n_contained"),
        r6(col("n_contained").cast("double") /
          col("n_child_distinct").cast("double")).as("containment"),
        (col("n_contained") === col("n_child_distinct")).cast("int")
          .as("is_fk"))
      .orderBy("child_table", "child_col", "parent_table")
  }

  /** Functional-dependency audit (A → B?) — the other half of schema
    * profiling beside [[inclusionDeps]]: per candidate, group by the
    * determinant and count distinct dependent values; the dependency
    * holds iff NO determinant value maps to more than one dependent.
    * Reports the determinant cardinality, the distinct (A,B) pair count,
    * and how many determinant values violate — the exact denormalization
    * evidence a modeler needs before collapsing B into A's dimension.
    * One groupBy per candidate over a two-column projection (the
    * aggregate collapses map-side), one row out before the union. */
  def functionalDeps(cands: Seq[(String, DataFrame, String, String)])
      : DataFrame = {
    // Same single-plan fold as [[inclusionDeps]]: the old per-candidate
    // groupBy + global aggregate planned ~3 sequential AQE stage-jobs per
    // candidate. One tagged union keyed on (cid, lhs-value) serves every
    // candidate's determinant census in one exchange; the second
    // aggregate is |cands| rows. Values union through a STRING cast,
    // which is injective for the long/string profiling columns this
    // operator is given, so per-determinant distinct-dependent counts
    // are unchanged (a non-injectively-castable column type would merge
    // keys — extend the tag to a typed struct before profiling one).
    val spark = cands.head._2.sparkSession
    val tagged = cands.zipWithIndex.map { case ((_, df, a, b), id) =>
      df.filter(col(a).isNotNull)
        .select(lit(id).as("cid"), col(a).cast("string").as("a"),
          col(b).cast("string").as("b"))
    }.reduce(_ unionAll _)
    val counts = tagged.groupBy(col("cid"), col("a"))
      .agg(countDistinct(col("b")).as("nb"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_lhs"), sum(col("nb")).as("n_pairs"),
        sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating_lhs"))
    import scala.jdk.CollectionConverters._
    val names = spark.createDataFrame(
      cands.zipWithIndex.map { case ((t, _, a, b), id) =>
        org.apache.spark.sql.Row(id, t, a, b)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("table_name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("lhs",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("rhs",
          org.apache.spark.sql.types.StringType, nullable = false))))
    // all-null determinant column ⇒ no group; the left join restores the
    // row with n_lhs 0 and NULL sums — exactly the old empty-input
    // global-aggregate row (count 0, sum null, holds null)
    names.join(broadcast(counts), Seq("cid"), "left")
      .select(col("table_name"), col("lhs"), col("rhs"),
        coalesce(col("n_lhs"), lit(0L)).as("n_lhs"), col("n_pairs"),
        col("n_violating_lhs"),
        (col("n_violating_lhs") === 0).cast("int").as("holds"))
      .orderBy("table_name", "lhs", "rhs")
  }

  /** Candidate-key discovery — the uniqueness census behind both schema
    * documentation and dedup-key selection: for each declared column
    * combo, |distinct| vs |rows| decides `is_key`. Combos are a FIXED
    * literal list (the profiling contract, like [[functionalDeps]]'
    * candidate pairs), so the output row set is schema-stable. Each
    * combo is its own narrow aggregate — column pruning reaches the
    * scan, so a 2-column combo reads 2 columns; the alternative
    * one-pass Expand would multiply shuffle volume by the combo count
    * instead. countDistinct here is exact (it is the VERDICT, not a
    * screen); the HLL pre-screen that skips hopeless combos at 100 TB
    * composes upstream of this operator if needed.
    *
    * NULL convention: Spark's countDistinct drops any tuple containing a
    * NULL (single- and multi-column alike), so a combo over nullable
    * columns counts only fully-non-NULL tuples as distinct values while
    * n_rows counts every row — a column set with NULLs therefore can
    * never be is_key=1, which is the SQL key semantics we want. The
    * DuckDB oracle mirrors this with an explicit all-columns-NOT-NULL
    * filter inside its composite DISTINCT subquery. */
  def candidateKeys(table: String, df: DataFrame,
                    combos: Seq[Seq[String]]): DataFrame = {
    combos.map { combo =>
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(combo.head, combo.tail: _*).as("n_distinct"))
        .select(lit(table).as("table_name"),
          lit(combo.mkString(",")).as("columns"),
          col("n_rows"), col("n_distinct"),
          (col("n_distinct") === col("n_rows")).cast("int").as("is_key"),
          r6(col("n_distinct").cast("double") /
            col("n_rows").cast("double")).as("uniqueness"))
    }.reduce(_ unionAll _)
      .orderBy("table_name", "columns")
  }
}
