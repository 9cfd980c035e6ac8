package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** GraftSession is the only session definition, and it carries exactly the
  * settings the benchmark's session (perfbench `Main.session`, printed as
  * `[perfbench] config`) mirrors, so changing them here alone fails. */
class GraftSessionSpec extends SparkSpec {
  test("GraftSession at 4 cores yields exactly the five benchmark settings") {
    val expected = Seq("spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.settings(4) == expected)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("no session builder under src/ outside GraftSession") {
    val needle = "SparkSession" + ".builder()"
    val root = Path.of("src")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString).toSeq
    assert(hits == Seq("main/scala/graft/GraftSession.scala"))
  }
}
