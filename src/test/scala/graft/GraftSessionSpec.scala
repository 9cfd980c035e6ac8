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

  test("a spark.* system property wins over GraftSession's value; unset " +
    "keys keep GraftSession's") {
    val key = "spark.sql.shuffle.partitions"
    val prev = sys.props.get(key)
    sys.props(key) = "7"
    try {
      val own = GraftSession.settings(4) :+ ("spark.graft.pins" -> "off")
      val applied = GraftSession.unlessOverridden(own)
      assert(!applied.exists(_._1 == key))
      // the build's javaOptions set two more keys, to the same values
      assert(applied == own.filterNot { case (k, _) => sys.props.contains(k) })
      assert(applied.contains("spark.graft.pins" -> "off"))
      // what getOrCreate composes: a SparkConf loaded from the system
      // properties, then the builder's settings on top
      val conf = new org.apache.spark.SparkConf().setAll(applied)
      assert(conf.get(key) == "7")
      own.filterNot(_._1 == key).foreach {
        case (k, v) => assert(conf.get(k) == v, k)
      }
    } finally prev.fold(sys.props.remove(key))(sys.props.put(key, _))
  }

  test("session settings are written under src/main only by " +
    "runAvailableNow and the Tables schema probe") {
    val root = Path.of("src/main")
    val Def = """.*\bdef (\w+).*""".r
    val writers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toSeq
        lines.indices.filter { i =>
          lines(i).contains("conf.set(") || lines(i).contains("conf.unset(")
        }.map { i =>
          val owner = lines.take(i + 1).reverseIterator.collectFirst {
            case Def(name) => name
          }
          s"${p.getFileName}:${owner.getOrElse("?")}"
        }
      }.toSet
    assert(writers == Set("Tables.scala:schema",
      "EventStream.scala:runAvailableNow"))
  }
}
