package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The invariance
  * campaign runs it under other execution shapes with `-Dspark.*` JVM
  * flags (see GraftSession); the `[verify-shape]` stderr line names the
  * shape a dump ran under. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-only third arg: comma-separated query names to dump
    // (driver always calls with two args → full surface).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // results must not depend on shuffle fan-out, AQE re-planning, or
    // input-split boundaries: the campaign varies each on its own
    val spark = GraftSession.builder().getOrCreate()
    System.err.println("[verify-shape] " + Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes")
      .map(k => s"$k=${spark.conf.get(k)}").mkString(" "))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must leave a loud artifact, not just a stderr line:
    // round 4's 103-query regression shipped unseen because failures were
    // simply absent from the correctness file. failures.json names them.
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += ((name,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    failures.foreach { case (n, _) =>
      System.err.println(s"[verify] FAILED (see failures.json): $n") }
    // exit 0 even on failures: the driver must still run the DuckDB compare
    // for the queries that DID dump — failures.json is the loud artifact.
    spark.stop()
  }
}
