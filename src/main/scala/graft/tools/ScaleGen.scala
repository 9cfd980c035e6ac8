package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Deterministic fixture scaler: replicates a driver fixture directory
  * (TESTDATA.md schemas) `reps`× with referential integrity preserved, so
  * the engine can be oracle-verified and benchmarked at 100× the sf0.01
  * correctness gate (VERDICT r9 item 1).
  *
  * Shape contract:
  *   - Every surrogate key domain (custkey, orderkey, partkey, suppkey,
  *     event_id, user_id, doc_id, vec_id) is remapped `key + rep*1e7` —
  *     the offset exceeds every fixture key (max 149,999 at sf0.1), so
  *     replicas never collide and every FK pair (o_custkey→c_custkey,
  *     l_orderkey→o_orderkey, doc_id↔vec_id, …) lands in the same replica:
  *     join fan-outs grow linearly, exactly like a bigger day of real data.
  *   - region/nation are fixed dimensions (they do not scale in TPC-H
  *     either); all other tables grow `reps`×.
  *   - documents.text and embeddings.embedding are deterministically
  *     perturbed for rep>0 (an xxhash64-derived suffix token / ±0.01
  *     per-dimension nudge): a 10× corpus of EXACT duplicates would turn
  *     every near-dup operator into a degenerate clique workload, which is
  *     not the distribution the scale claim is about. rep 0 is bit-for-bit
  *     the source fixture. documents.n_chars is recomputed to preserve the
  *     fixture invariant n_chars = length(text).
  *   - Replica 0 of every row is byte-identical to the source, so sf1 ⊇
  *     sf0.1 row-wise and any sf0.1-verified aggregate can be sanity-read
  *     out of the sf1 result.
  *
  * Output encoding matches the driver fixture: ONE plain parquet file per
  * table named `<table>.parquet` (the DuckDB oracle harness reads that
  * exact path), written with 8 MiB row groups so Spark's scan splitter
  * still yields ≥16 splits on the largest table — single-file is an oracle
  *-harness constraint, not the cluster story (a real 100 TB table is
  * thousands of files; see Tables.scaladoc).
  *
  * Determinism: every transform is a pure column expression of (key, rep)
  * — no rand(), no time. Two runs produce identical bytes modulo parquet
  * footer timestamps.
  */
object ScaleGen {
  private val Off = 10_000_000L

  private def shift(c: String, rep: Column): Column = col(c) + rep * lit(Off)

  def main(args: Array[String]): Unit = {
    // flags are filtered out BEFORE positional parsing so
    // `ScaleGen <in> <out> --zipf` works without an explicit reps
    // (previously args(2).toInt choked on the flag)
    val pos    = args.filterNot(_.startsWith("--"))
    val inDir  = pos(0)
    val outDir = pos(1)
    val reps   = pos.lift(2).map(_.toInt).getOrElse(10)
    // --zipf (VERDICT r10 item 2): after scaling, make the fixture
    // zipfian the way 100 TB event data actually is — ~20% of events
    // collapse onto ONE user_id and ~20% of lineitem onto ONE
    // part+supplier (deterministic xxhash64 row selection, so two runs
    // produce identical bytes). FKs stay valid: the hot keys are rep-0
    // keys, present in every output. With reps=1 this yields a
    // same-row-count skewed twin of the input for apples-to-apples
    // skew-vs-uniform floors (tools/skew_bench.py).
    // VERDICT r11 item 2 extends --zipf to the text/embedding arms:
    // documents get a hot vocabulary (~20% of cold-doc tokens drawn
    // from 10 hot terms) and a duplicate-heavy hot domain (~20% of
    // docs collapse onto `src_hot` with only 50 distinct template
    // texts — half exact duplicates, half one-token near-duplicates),
    // and embeddings get one hot cluster (~20% of vectors land within
    // ±0.04 of one fixed centroid). These are the distributions the
    // LSH bucket caps and IVF probe behavior exist for.
    val zipf = args.contains("--zipf")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rep  = col("rep")
    val fan  = explode(sequence(lit(0L), lit(reps - 1L))).as("rep")

    def scaled(name: String, keyCols: String*)(
        f: DataFrame => DataFrame): (String, DataFrame) = {
      val src = spark.read.parquet(s"$inDir/$name.parquet")
      // The rep*Off shift is collision-free only if every source key fits
      // under Off. Re-running ScaleGen on already-scaled output (sf1→sf10)
      // would silently break FK integrity, so fail loudly instead.
      if (keyCols.nonEmpty) {
        val maxes = src.agg(
          max(col(keyCols.head)).cast("long").as(keyCols.head),
          keyCols.tail.map(c => max(col(c)).cast("long").as(c)): _*).head()
        keyCols.zipWithIndex.foreach { case (c, i) =>
          val m = if (maxes.isNullAt(i)) 0L else maxes.getLong(i)
          require(m < Off,
            s"$name.$c max=$m >= replica offset $Off — input already looks " +
              "scaled; refusing to generate colliding surrogate keys")
        }
      }
      name -> f(src.select(col("*"), fan)).drop("rep")
    }
    def fixed(name: String): (String, DataFrame) =
      name -> spark.read.parquet(s"$inDir/$name.parquet")

    val tables: Seq[(String, DataFrame)] = Seq(
      fixed("region"),
      fixed("nation"),
      scaled("customer", "c_custkey")(_.withColumn("c_custkey", shift("c_custkey", rep))),
      scaled("supplier", "s_suppkey")(_.withColumn("s_suppkey", shift("s_suppkey", rep))),
      scaled("part", "p_partkey")(_.withColumn("p_partkey", shift("p_partkey", rep))),
      scaled("orders", "o_orderkey", "o_custkey")(
        _.withColumn("o_orderkey", shift("o_orderkey", rep))
          .withColumn("o_custkey", shift("o_custkey", rep))),
      scaled("lineitem", "l_orderkey", "l_partkey", "l_suppkey") { li =>
        val s = li.withColumn("l_orderkey", shift("l_orderkey", rep))
          .withColumn("l_partkey", shift("l_partkey", rep))
          .withColumn("l_suppkey", shift("l_suppkey", rep))
        if (!zipf) s
        else {
          // one hot part + supplier: 20% of all line items, row-selected
          // by the unique (orderkey, linenumber) hash
          val hot = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
            lit(5L)) === 0L
          s.withColumn("l_partkey",
              when(hot, lit(1L)).otherwise(col("l_partkey")))
            .withColumn("l_suppkey",
              when(hot, lit(1L)).otherwise(col("l_suppkey")))
        }
      },
      scaled("events", "event_id", "user_id") { e =>
        val s = e.withColumn("event_id", shift("event_id", rep))
          .withColumn("user_id", shift("user_id", rep))
        if (!zipf) s
        else
          // one hot user owns 20% of events; null user_ids stay null
          // (the quarantine semantics are part of what skew must not
          // break)
          s.withColumn("user_id",
            when(col("user_id").isNotNull &&
              pmod(xxhash64(col("event_id")), lit(5L)) === 0L, lit(1L))
              .otherwise(col("user_id")))
      },
      scaled("documents", "doc_id") { d =>
        val text = when(rep === 0, col("text")).otherwise(concat(
          col("text"), lit(" rv"), rep.cast("string"), lit("x"),
          pmod(xxhash64(col("doc_id"), rep), lit(9973L)).cast("string")))
        val base = d.withColumn("doc_id", shift("doc_id", rep))
          .withColumn("text", text)
        val skewed = if (!zipf) base else {
          // (a) duplicate-heavy hot domain: ~20% of docs move to
          // `src_hot` and collapse onto 50 template texts — half of
          // them byte-identical exact duplicates, half carrying a
          // unique one-token tail (near-duplicates at Jaccard ≳ 0.98).
          // This is the giant-LSH-bucket / giant-dedup-clique shape.
          val hotDoc = pmod(xxhash64(col("doc_id"), lit(17L)),
            lit(5L)) === 0L
          val tmpl = pmod(xxhash64(col("doc_id"), lit(7L)), lit(50L))
          val vocab30 = array(Seq("key", "agg", "row", "scan", "slow",
            "fast", "table", "value", "part", "hash", "merge", "batch",
            "a", "the", "line", "sort", "window", "spark", "order",
            "data", "column", "join", "small", "customer", "query",
            "big", "group", "stream", "filter", "code").map(lit): _*)
          val tmplText = array_join(transform(sequence(lit(0), lit(59)),
            j => element_at(vocab30,
              (pmod(xxhash64(tmpl, j), lit(30L)) + lit(1L))
                .cast("int"))), " ")
          val nearTail = when(
            pmod(xxhash64(col("doc_id"), lit(11L)), lit(2L)) === 0L,
            concat(lit(" nd"), pmod(xxhash64(col("doc_id"), lit(13L)),
              lit(9973L)).cast("string"))).otherwise(lit(""))
          // (b) hot vocabulary on the COLD 80%: ~20% of their tokens
          // are re-drawn from 10 hot terms, so the doc-term matrix and
          // shingle space get the head-heavy token distribution of web
          // text while each doc stays distinct.
          val hot10 = array(Seq("table", "query", "value", "spark",
            "scan", "key", "row", "fast", "sort", "agg").map(lit): _*)
          val coldText = array_join(transform(split(col("text"), " "),
            (t, i) => when(
              pmod(xxhash64(col("doc_id"), i), lit(5L)) === 0L,
              element_at(hot10,
                (pmod(xxhash64(col("doc_id"), i, lit(3L)), lit(10L))
                  + lit(1L)).cast("int"))).otherwise(t)), " ")
          base.withColumn("text",
              when(hotDoc, concat(tmplText, nearTail)).otherwise(coldText))
            .withColumn("source",
              when(hotDoc, lit("src_hot")).otherwise(col("source")))
        }
        skewed.withColumn("n_chars", length(col("text")).cast("long"))
      },
      scaled("embeddings", "vec_id") { e =>
        // ±0.01 deterministic per-dimension nudge for rep>0; keeps cosine
        // neighborhoods intact while breaking exact-duplicate degeneracy
        val perturbed = transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id"), rep, i), lit(2001L)) - lit(1000L))
            .cast("double") / lit(100000.0)).cast(FloatType))
        val base = e.withColumn("vec_id", shift("vec_id", rep))
          .withColumn("embedding",
            when(rep === 0, col("embedding")).otherwise(perturbed))
        if (!zipf) base
        else {
          // one hot cluster: ~20% of vectors are rewritten to a fixed
          // deterministic centroid (components in [-1,1]) plus a ±0.04
          // per-dimension nudge — the one-giant-IVF-cell /
          // one-giant-LSH-bucket shape ANN blocking must survive
          val hotVec = pmod(xxhash64(col("vec_id"), lit(23L)),
            lit(5L)) === 0L
          val clustered = transform(col("embedding"), (x, i) =>
            (((pmod(xxhash64(lit(4242L), i), lit(2001L)) - lit(1000L))
                .cast("double") / lit(1000.0)) +
              ((pmod(xxhash64(col("vec_id"), i, lit(5L)), lit(81L))
                - lit(40L)).cast("double") / lit(1000.0)))
              .cast(FloatType))
          base.withColumn("embedding",
            when(hotVec, clustered).otherwise(col("embedding")))
        }
      }
    )

    val out = new java.io.File(outDir)
    out.mkdirs()
    tables.foreach { case (name, df) =>
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected 1 part file, got ${part.length}")
      val dst = new java.io.File(outDir, s"$name.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.head.toPath, dst.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[scalegen] $name: ${spark.read.parquet(dst.getPath).count()} rows")
    }
    spark.stop()
  }
}
