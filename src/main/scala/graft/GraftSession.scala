package graft

import org.apache.spark.sql.SparkSession

/** The one session definition every entry point builds through: the mains
  * (Bench, Verify and the tools) and the test sessions. A caller passes the
  * defaults that are its own (Explain's pin switch) as `own`, and adds
  * anything that is not overridable (a test's extensions) to the returned
  * builder.
  *
  * Every main is overridden the same way, with Spark's own `spark.*` JVM
  * system properties: a setting here or in `own` whose key is set as one
  * is left out of the builder, so `SparkConf` supplies the property's
  * value. For example `-Dspark.sql.shuffle.partitions=7` (in `java -cp`,
  * or `sbt 'set javaOptions += "-Dspark.sql.shuffle.partitions=7"'` ahead
  * of `runMain`) runs Verify at 7 shuffle partitions. */
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

  /** `kvs` less every key set as a JVM system property. */
  def unlessOverridden(kvs: Seq[(String, String)]): Seq[(String, String)] =
    kvs.filterNot { case (k, _) => sys.props.contains(k) }

  def builder(cores: Int = cpus,
              own: Seq[(String, String)] = Nil): SparkSession.Builder =
    unlessOverridden(settings(cores) ++ own)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
}
