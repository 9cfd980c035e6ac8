package graft

import org.apache.spark.sql.SparkSession

/** The one session definition every entry point builds through: the mains
  * (Bench, Verify and the tools) and the test sessions. Callers add only the
  * settings that are theirs (Verify's invariance knobs, Explain's pin
  * switch, a test's extensions) on top of the returned builder. */
object GraftSession {
  /** Core count of every main: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Spark's default fallback (128 groups!) demotes every collect_set/
    // collect_list aggregate to sort-based on any realistic group
    // count; 1M keeps them hash-based here (−15% on the basket-family
    // subset). Memory bound = per-partition group cardinality × buffer
    // width — size to executor memory on a real cluster.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.ui.enabled" -> "false")

  def builder(cores: Int = cpus): SparkSession.Builder =
    settings(cores).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
}
