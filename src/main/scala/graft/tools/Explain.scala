package graft.tools

/** Plan-inspection harness: prints the formatted physical plan of selected
  * SparkEntry queries (all when no names given). Dev tool, not part of the
  * driver contract. Runs with `spark.graft.pins=off` so the lazy
  * checkpoint pins do not truncate the dumped lineage to `Scan
  * ExistingRDD` — the dump shows FileScans, PushedFilters and join
  * strategies end to end (plans are only EXPLAINED here, never executed,
  * so the single-materialization guarantees the pins exist for are not
  * needed; see graft.Pins). The session is Bench's: graft.GraftSession.
  * `-Dspark.graft.pins=on` dumps the EXECUTED shape instead (pins
  * truncate the lineage, but exchange/join counts match what actually
  * runs); off, iterative queries re-expand shared subtrees, so node counts
  * are inflated there.
  * Usage: runMain graft.tools.Explain <sfDir> [q ...]
  * With SPARK_GRAFT_PLAN_DIR set, each query's plan is also written to
  * `$SPARK_GRAFT_PLAN_DIR/<query>.txt` for the plans/ evidence files. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = graft.GraftSession
      .builder(own = Seq("spark.graft.pins" -> "off")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      graft.SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        try {
          val df = fn(spark, sfDir)
          df.explain("formatted")
          planDir.foreach { dir =>
            java.nio.file.Files.createDirectories(java.nio.file.Path.of(dir))
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Path.of(dir, s"$n.txt"), txt)
          }
        }
        catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
      }
    }
    spark.stop()
  }
}
